"""Single-pass table profiling: per-column stats, fixed-grid histograms,
top-k frequent values.

The reference pipeline has no data-quality surface at all — it trusts the
API payload and crashes on surprises (SURVEY.md §2.6; e.g. the unguarded
duration parse, fetch_youtube_data.py:184-186). At 100 TB the first step of
any ingest/curation run is a cheap profile of what actually arrived: null
rates, cardinalities, ranges, value skew. These operators are that step,
built so the whole per-column stats block is one aggregate job over one
scan of the table — plus, in exact-distinct mode only, a second
distinct-only aggregate kept deliberately separate (see Scale notes).

Scale notes
-----------
- ``column_stats`` with ``exact_distinct=True`` (the fixture/oracle mode)
  runs TWO aggregates over two column-pruned scans: the distinct counts
  alone (Spark's multi-distinct Expand feeding a codegen'd HashAggregate —
  all-long buffers, no sort) union-folded into the plain stats row.
  They are deliberately NOT one aggregate: mixed, the string min/max
  buffers disqualify HashAggregate and the multi-distinct rewrite makes
  the resulting SortAggregate SORT the (n_cols+1)×N expanded rows —
  interpreted, no codegen (measured 20-40× slower at sf0.1; a dead plan at
  100 TB). At 100 TB set ``exact_distinct=False``: approx_count_distinct
  (HyperLogLog++) partials merge associatively, no Expand exists, and
  everything fuses back into ONE aggregate over ONE scan whose single
  shuffle carries one tiny sketch per partition per column.
- ``numeric_histogram`` groups on at most ``bins`` keys — map-side partial
  aggregation reduces the shuffle to ``bins`` rows per partition.
- ``top_values`` aggregates (value, count) then takes the global top-k via
  ``orderBy().limit(k)``, which Spark executes as TakeOrderedAndProject:
  per-partition top-k then a k-row merge on the driver — no full sort, no
  full shuffle of the counts relation.

Cross-engine determinism (the driver's DuckDB oracle): min/max are emitted
as strings only for types whose rendering is identical in both engines
(integers, strings, dates); fractional columns are first cast to
decimal(24,6) (exact at the ≤2-decimal magnitudes of the test data) and
timestamps are formatted with an explicit pattern, so no engine-specific
float/timestamp formatting ever reaches the compared values. Means are
decimal-exact sums divided at the edge and rounded with the portable
``round6``.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from ..functions.rounding import round6, spark_round6
from ..functions.text import sql_ident, sql_str
from ..functions.vectors import sql_double

_INTEGRAL = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
_FRACTIONAL = (T.FloatType, T.DoubleType)


def _is_numeric(dt: T.DataType) -> bool:
    return isinstance(dt, _INTEGRAL + _FRACTIONAL) or isinstance(dt, T.DecimalType)


def _ref(name: str) -> Column:
    """Reference a column by its LITERAL name: a profiled source can carry
    dotted or otherwise exotic column names (flattened JSON ingest), which
    bare F.col/df[...] would parse as nested-field access. Backtick
    quoting (with `` escaping) makes the reference verbatim."""
    return F.col(sql_ident(name))


def _resolve_cols(
    df: DataFrame, cols: Sequence[str] | None
) -> tuple[dict[str, T.DataType], list[str]]:
    fields = {f.name: f.dataType for f in df.schema.fields}
    if cols is None:
        return fields, [f.name for f in df.schema.fields]
    missing = [c for c in cols if c not in fields]
    if missing:
        raise KeyError(f"unknown columns {missing}; table has {sorted(fields)}")
    return fields, list(cols)


def _stats_aggs(
    fields: dict[str, T.DataType],
    names: Sequence[str],
    exact_distinct: bool,
    timestamp_format: str,
) -> list[tuple[str, str]]:
    """The per-column stats block as (alias, SQL aggregate) pairs
    (``__n_rows`` + ``__p{i}__*`` per profiled column) — the shared core
    of :func:`column_stats` and :func:`fused_profile`.

    In exact mode the distinct counts are OMITTED here — they go in their
    own aggregate (see :func:`_merge_nd`): a
    multi-COUNT(DISTINCT) mixed with string min/max buffers forces Spark
    onto SortAggregate for the whole tree, and the multi-distinct rewrite
    then groups the Expand stream by the distinct keys — i.e. the plan
    SORTS (n_cols+1)×N rows, interpreted, no codegen. Split, the distinct
    counts are a HashAggregate over the Expand (long buffers, no sort) and
    the rest is a global fold; measured 20-40× faster at sf0.1 and the
    5×N sort is gone at any scale. Approx mode keeps the HLL sketches in
    this same aggregate: no Expand exists there, so the single-scan fused
    form is strictly better."""
    fmt = sql_str(timestamp_format)
    aggs = [("__n_rows", "count(1)")]
    for i, c in enumerate(names):
        dt = fields[c]
        col = sql_ident(c)  # verbatim name; internal agg aliases are positional
        aggs.append((f"__p{i}__nn", f"count({col})"))
        if not exact_distinct:
            aggs.append((f"__p{i}__nd",
                         f"CAST(approx_count_distinct({col}) AS BIGINT)"))
        if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
            mn = f"date_format(min({col}), {fmt})"
            mx = f"date_format(max({col}), {fmt})"
        elif isinstance(dt, _FRACTIONAL):
            mn = f"CAST(CAST(min({col}) AS DECIMAL(24,6)) AS STRING)"
            mx = f"CAST(CAST(max({col}) AS DECIMAL(24,6)) AS STRING)"
        elif isinstance(
            dt, _INTEGRAL + (T.StringType, T.DateType, T.BooleanType, T.DecimalType)
        ):
            mn = f"CAST(min({col}) AS STRING)"
            mx = f"CAST(max({col}) AS STRING)"
        else:  # arrays/structs/maps/binary: no portable rendering
            mn = mx = "CAST(NULL AS STRING)"
        aggs.append((f"__p{i}__min", mn))
        aggs.append((f"__p{i}__max", mx))
        if _is_numeric(dt):
            avg = _decimal_mean(col)
        else:
            avg = "CAST(NULL AS DOUBLE)"
        aggs.append((f"__p{i}__avg", avg))
        if isinstance(dt, T.StringType):
            alen = _decimal_mean(f"length({col})", col)
        else:
            alen = "CAST(NULL AS DOUBLE)"
        aggs.append((f"__p{i}__len", alen))
    return aggs


def _decimal_mean(x: str, col: str | None = None) -> str:
    """round6 of the decimal-exact mean of ``x`` over the non-NULL rows of
    ``col`` (default ``x``); NULL when there are none."""
    n = f"count({col or x})"
    return (f"CASE WHEN {n} > 0 THEN " + spark_round6(
        f"CAST(sum(CAST({x} AS DECIMAL(24,6))) AS DOUBLE) / {n}") + " END")


def _agg_row(df: DataFrame, aggs: Sequence[tuple[str, str]],
             extra: Sequence[Column] = (),
             group: Column | None = None) -> DataFrame:
    """One aggregate of ``df`` (global, or by ``group``) over the (alias,
    SQL) pairs plus any Column aggregates in ``extra``, one output column
    per alias. The SQL block parses as ONE named_struct — three py4j
    calls whatever its width — and the projection that flattens it
    collapses back into the aggregate during optimization."""
    block = [F.expr(f"{_named_struct(aggs)} AS __agg")] if aggs else []
    gd = df.groupBy(group) if group is not None else df.groupBy()
    row = gd.agg(*block, *extra)
    return row.selectExpr(*["__agg.*" if c == "__agg" else c
                            for c in row.columns])


def _named_struct(fields: Sequence[tuple[str, str]]) -> str:
    """``named_struct`` SQL of (name, SQL value) pairs."""
    return "named_struct(" + ", ".join(
        f"{sql_str(n)}, {v}" for n, v in fields) + ")"


def _merge_nd(
    df: DataFrame,
    row: DataFrame,
    names: Sequence[str],
    extra: Sequence[Column] = (),
) -> DataFrame:
    """Attach exact distinct counts to the 1-row stats aggregate: a
    distinct-ONLY aggregate of the same source (all-long buffers →
    HashAggregate over the multi-distinct Expand, codegen'd, no sort),
    merged by unioning the two 1-row relations and collapsing with a
    2-row ``max()`` fold — deliberately NOT a join: a 1×1 crossJoin plans
    as BroadcastNestedLoopJoin (tripping the repo's no-nested-loop plan
    pins) and a literal-key equi-join constant-folds back into one, while
    the union-fold costs a 2-row exchange and nothing else. ``max`` over
    [value, NULL] is the value; a legitimately-NULL stat (all-null column
    min/max) has no non-NULL candidate on either row and stays NULL.

    Costs a second column-pruned scan; buys the removal of an interpreted
    sort over (n_cols+1)×N expanded rows — the right trade at every scale
    where exact distincts are on (the oracle/fixture mode; 100 TB runs
    use ``exact_distinct=False``, which stays single-scan).

    ``extra`` carries additional distinct-involving aggregate columns that
    must live on this side for the same reason (e.g. ``fused_profile``'s
    ``unique`` expectation, whose violation count is
    ``count - count_distinct``)."""
    nd_row = _agg_row(df, [
        (f"__p{i}__nd", f"CAST(count(DISTINCT {sql_ident(c)}) AS BIGINT)")
        for i, c in enumerate(names)
    ], extra)
    both = row.unionByName(nd_row, allowMissingColumns=True)
    return both.selectExpr(*[f"max({c}) AS {c}" for c in both.columns])


def _stat_struct_fields(i: int, c: str, dt: T.DataType) -> dict[str, str]:
    return {
        "column_name": sql_str(c),
        "dtype": sql_str(dt.simpleString()),
        "n_rows": "__n_rows",
        "n_nulls": f"__n_rows - __p{i}__nn",
        "n_distinct": f"__p{i}__nd",
        "min_value": f"__p{i}__min",
        "max_value": f"__p{i}__max",
        "avg_value": f"__p{i}__avg",
        "avg_len": f"__p{i}__len",
    }


def _inline(structs: Sequence[dict[str, str]]) -> str:
    """SQL text exploding one row into one row per struct (field name →
    SQL value): the driver-free unpivot of a 1-row aggregate."""
    return "inline(array(" + ", ".join(
        _named_struct(st.items()) for st in structs) + "))"


def column_stats(
    df: DataFrame,
    cols: Sequence[str] | None = None,
    exact_distinct: bool = True,
    timestamp_format: str = "yyyy-MM-dd HH:mm:ss",
) -> DataFrame:
    """One row per profiled column: ``(column_name, dtype, n_rows, n_nulls,
    n_distinct, min_value, max_value, avg_value, avg_len)``.

    One aggregate job over one scan for every non-distinct metric (plus,
    in exact mode only, a distinct-count aggregate over a second pruned
    scan, broadcast-joined — see the module Scale notes for why splitting
    beats the fused SortAggregate), then the single result row is unpivoted
    driver-free via ``inline``. NULL policy: ``n_nulls`` counts them, every
    other metric
    ignores them (min/max/avg over the non-null subset); an all-NULL or
    empty column yields NULL min/max/avg and ``n_distinct = 0``.

    ``min_value``/``max_value`` are portable strings (see module note);
    types without a stable cross-engine rendering (arrays, structs, maps,
    binary) get NULL min/max rather than an engine-specific repr.
    ``avg_value`` is populated for numeric columns, ``avg_len`` (mean
    string length) for string columns; both decimal-exact then round6.
    """
    fields, names = _resolve_cols(df, cols)
    row = _agg_row(df, _stats_aggs(fields, names, exact_distinct,
                                   timestamp_format))
    if exact_distinct:
        row = _merge_nd(df, row, names)
    return row.selectExpr(_inline([
        _stat_struct_fields(i, c, fields[c]) for i, c in enumerate(names)]))


def numeric_histogram(
    df: DataFrame, col: str, lo: float, hi: float, bins: int
) -> DataFrame:
    """Fixed-grid histogram of a numeric column: ``(bucket, bucket_lo,
    bucket_hi, bucket_n)``, NULLs and NaNs dropped (a NaN has no bucket —
    without the explicit drop Spark's floor(NaN)→0 would silently count
    every NaN as a small value, exactly the corruption a profiler exists
    to surface; pair with ``column_stats`` null counts for the missing
    side), out-of-range values clamped into the edge buckets (so the
    bucket counts always sum to the non-null, non-NaN row count — a
    profile must not silently lose finite rows).

    Empty buckets are absent from the result (join a spine at the
    presentation edge if a dense grid is wanted). The bucket arithmetic is
    pure double ops — ``floor((x - lo) / width)`` — evaluated bit-identically
    by any IEEE-754 engine, so the relation is oracle-checkable.
    """
    if bins <= 0:
        raise ValueError(f"bins must be positive, got {bins}")
    if not hi > lo:
        raise ValueError(f"need hi > lo, got [{lo}, {hi})")
    x, bucket = _bucket_sql(col, float(lo), float(hi), int(bins))
    width = sql_double((float(hi) - float(lo)) / bins)
    lo_s = sql_double(float(lo))
    return (
        df.filter(f"{x} IS NOT NULL AND NOT isnan({x})")
        .selectExpr(f"{bucket} AS bucket")
        .groupBy("bucket")
        .agg(F.expr("count(1) AS bucket_n"))
        .selectExpr("bucket", f"{lo_s} + bucket * {width} AS bucket_lo",
                    f"{lo_s} + (bucket + 1) * {width} AS bucket_hi",
                    "bucket_n")
    )


def _bucket_sql(col: str, lo: float, hi: float, bins: int) -> tuple[str, str]:
    """(value, clamped bucket) SQL of a fixed histogram grid over ``col``:
    ``floor((x - lo) / width)`` clamped into [0, bins)."""
    x = f"CAST({sql_ident(col)} AS DOUBLE)"
    width = sql_double((hi - lo) / bins)
    b = f"CAST(floor(({x} - {sql_double(lo)}) / {width}) AS INT)"
    return x, f"least(greatest({b}, 0), {bins - 1})"


def top_values(df: DataFrame, col: str, k: int = 10) -> DataFrame:
    """Top-k most frequent non-null values of a column as strings:
    ``(value, value_n, rank)``, ties broken by value ascending so the
    result is deterministic and oracle-checkable.

    The count relation is cut to k via ``orderBy().limit(k)`` —
    TakeOrderedAndProject, i.e. per-partition top-k + k-row driver merge,
    never a full sort. The rank window then runs over exactly k rows in one
    partition (the empty-frame warning Spark logs is about those k rows,
    not the data)."""
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    counts = (
        df.filter(_ref(col).isNotNull())
        .groupBy(_ref(col).cast("string").alias("value"))
        .agg(F.count(F.lit(1)).alias("value_n"))
    )
    order = [F.desc("value_n"), F.asc("value")]
    top = counts.orderBy(*order).limit(k)
    w = Window.orderBy(*order)
    return top.withColumn("rank", F.row_number().over(w).cast("int"))


# The profiler's full wide schema: the superset of the stats / hist / topk /
# checks sections, NULL-padded per section (name, sparkType).
_WIDE_FIELDS: tuple[tuple[str, str], ...] = (
    ("section", "string"),
    ("column_name", "string"),
    ("dtype", "string"),
    ("n_rows", "long"),
    ("n_nulls", "long"),
    ("n_distinct", "long"),
    ("min_value", "string"),
    ("max_value", "string"),
    ("avg_value", "double"),
    ("avg_len", "double"),
    ("bucket", "int"),
    ("bucket_lo", "double"),
    ("bucket_hi", "double"),
    ("bucket_n", "long"),
    ("value", "string"),
    ("value_n", "long"),
    ("rank", "int"),
    ("check", "string"),
    ("n_violations", "long"),
    ("passed", "boolean"),
)


def _wide_struct(given: dict[str, str]) -> dict[str, str]:
    """The wide profiler row: ``given`` SQL values, NULL-padded per field."""
    return {n: given.get(n, f"CAST(NULL AS {t.upper()})")
            for n, t in _WIDE_FIELDS}


def fused_profile(
    df: DataFrame,
    cols: Sequence[str] | None = None,
    *,
    checks: Sequence = (),
    hists: Sequence[tuple[str, float, float, int]] = (),
    exact_distinct: bool = True,
    timestamp_format: str = "yyyy-MM-dd HH:mm:ss",
) -> DataFrame:
    """The whole profile-and-gate pass — per-column stats, expectation
    checks, fixed-grid histograms — fused into the minimum number of
    aggregate passes (one, plus the split distinct-only aggregate in
    exact mode — see :func:`_merge_nd`).

    :func:`column_stats`, ``expectations.run_checks``'s aggregate branch,
    and :func:`numeric_histogram` are each global aggregates of the same
    table; composed naively (as separate union branches) they scan the
    fact once EACH. This operator folds them into a single ``df.agg``:
    each histogram bucket is a conditional sum (fixed small ``bins``, so
    ``bins`` extra agg columns, not a groupBy), each check rides
    :func:`expectations.violation_agg`, and the one result row unpivots
    into the section-tagged wide relation (``section`` ∈ stats/checks/hist,
    NULL-padded like the driver row ``table_profile_orders``).

    Plan shape: distinct-involving aggregates — the exact per-column
    distinct counts and any ``unique`` check (``count − count_distinct``)
    — run in the separate all-long-buffer HashAggregate and union-fold
    back (:func:`_merge_nd`); everything else (min/max/means, row-level
    check sums, histogram bucket sums) is one global fold with no Expand
    and no sort. Note the fold itself is SortAggregate-interpreted (string
    min/max buffers disqualify codegen), so every fused column adds
    ~per-row interpreted cost: fusing CHECKS is a few sums and worth the
    saved scan; fusing HISTS adds ``bins`` updates per row, which at sf0.1
    measures slower than :func:`numeric_histogram`'s own codegen'd
    single-column groupBy scan (~1 s vs 0.4 s for 20 bins) — pass
    ``hists`` when scan I/O dominates (wide rows, remote/cold storage),
    keep the separate scan when compute does. The driver row keeps its
    histogram separate for exactly this reason.

    Semantics are EXACTLY the component operators': same stats arithmetic
    (shared ``_stats_aggs``), same NULL/NaN policy, same clamped buckets
    with empty buckets absent, same check names/violation counts.
    Join-based checks (``foreign_key``) have no aggregate form and raise —
    run those through ``run_checks`` and union the (padded) result; top-k
    needs a per-value groupBy and stays :func:`top_values`.
    """
    from .expectations import violation_agg

    fields, names = _resolve_cols(df, cols)
    checks = list(checks)
    hists = [(c, float(lo), float(hi), int(bins)) for c, lo, hi, bins in hists]
    for col, lo, hi, bins in hists:
        if bins <= 0:
            raise ValueError(f"bins must be positive, got {bins}")
        if not hi > lo:
            raise ValueError(f"need hi > lo, got [{lo}, {hi})")
    aggs = _stats_aggs(fields, names, exact_distinct, timestamp_format)
    main: list[Column] = []
    side: list[Column] = []  # distinct-involving aggs: see _merge_nd
    for j, c in enumerate(checks):
        va = violation_agg(c).cast("long").alias(f"__c{j}")
        (side if c.kind == "unique" else main).append(va)
    for j, (col, lo, hi, bins) in enumerate(hists):
        x, b = _bucket_sql(col, lo, hi, bins)
        for i in range(bins):
            # coalesce: SUM over zero rows is NULL, but an empty bucket is 0
            aggs.append((f"__h{j}_{i}", (
                f"CAST(coalesce(sum(CASE WHEN {x} IS NOT NULL AND NOT isnan({x})"
                f" AND {b} = {i} THEN 1 ELSE 0 END), 0) AS BIGINT)")))
    row = _agg_row(df, aggs, main)
    if exact_distinct:
        row = _merge_nd(df, row, names, extra=side)
    elif side:
        # Approx mode with a `unique` check: the HLL sketches stay in the
        # main agg, but the check's count_distinct must still be split out
        # or it would drag the whole agg onto the sorted Expand path.
        row = _merge_nd(df, row, [], extra=side)

    structs = [
        _wide_struct({"section": "'stats'",
                      **_stat_struct_fields(i, c, fields[c])})
        for i, c in enumerate(names)
    ]
    for j, c in enumerate(checks):
        structs.append(_wide_struct({
            "section": "'checks'",
            "column_name": sql_str(c.column),
            "n_rows": "__n_rows",
            "check": sql_str(c.name),
            "n_violations": f"__c{j}",
            "passed": f"__c{j} = 0",
        }))
    for j, (col, lo, hi, bins) in enumerate(hists):
        width = (hi - lo) / bins
        for i in range(bins):
            structs.append(_wide_struct({
                "section": "'hist'",
                "column_name": sql_str(col),
                "bucket": str(i),
                "bucket_lo": sql_double(lo + i * width),
                "bucket_hi": sql_double(lo + (i + 1) * width),
                "bucket_n": f"__h{j}_{i}",
            }))
    # Empty buckets are ABSENT, matching numeric_histogram's groupBy shape.
    return row.selectExpr(_inline(structs)).filter(
        "section != 'hist' OR bucket_n > 0")


def profile_drift(
    cur: DataFrame,
    prev: DataFrame,
    *,
    null_rate_jump: float = 0.05,
    distinct_drop: float = 0.5,
    mean_shift: float = 0.25,
) -> DataFrame:
    """Batch-over-batch drift detection between two :func:`column_stats`
    relations (e.g. this ingest's profile vs the previous committed
    version's): the monitor that catches the failures expectation checks
    can't — a contract says "o_custkey is never NULL", drift says "the
    null RATE just jumped 20 points", which is how upstream breakage
    (a source dropping a join, a schema default flipping) actually shows
    up before anyone updates the contract.

    One row per (column_name, metric) with ``metric`` ∈
    {``null_rate``, ``n_distinct``, ``avg_value``}: ``prev_value``,
    ``cur_value``, ``delta`` and ``flagged``.

    - ``null_rate``: fraction NULL (0 for an empty relation); ``delta`` is
      the absolute jump, flagged when it exceeds ``null_rate_jump``.
    - ``n_distinct``: ``delta`` = cur/prev ratio; flagged when cardinality
      COLLAPSES below ``distinct_drop`` × previous (an id column suddenly
      constant — the classic silent-join corruption) while the previous
      batch had any. Growth never flags — new values are normal.
    - ``avg_value``: ``delta`` = |cur−prev| / |prev| relative shift,
      flagged above ``mean_shift``; NULL means (non-numeric column or an
      empty side) never flag, a prev mean of exactly 0 compares by
      absolute shift instead.

    Scale shape: both inputs are k-row profile relations (k = column
    count), so this is a k-row sort-merge/broadcast join and pure Column
    arithmetic — nothing touches the data that produced the profiles.
    Columns present on only one side (schema evolution) are dropped here;
    diff schemas explicitly via ``operators/versioned.py::schema_diff``
    (added/dropped/retyped with a breaking verdict — the drift CLI runs
    it alongside this and exits 2 on breaking changes), not through
    drift arithmetic.
    """
    p = prev.select(
        F.col("column_name"),
        F.col("n_rows").alias("_p_rows"),
        F.col("n_nulls").alias("_p_nulls"),
        F.col("n_distinct").alias("_p_nd"),
        F.col("avg_value").alias("_p_avg"),
    )
    c = cur.select(
        F.col("column_name"),
        F.col("n_rows").alias("_c_rows"),
        F.col("n_nulls").alias("_c_nulls"),
        F.col("n_distinct").alias("_c_nd"),
        F.col("avg_value").alias("_c_avg"),
    )
    j = c.join(p, "column_name", "inner")

    def rate(nulls: Column, rows: Column) -> Column:
        return F.when(rows > 0, nulls.cast("double") / rows).otherwise(0.0)

    pr, cr = rate(F.col("_p_nulls"), F.col("_p_rows")), rate(
        F.col("_c_nulls"), F.col("_c_rows")
    )
    null_delta = cr - pr
    nd_ratio = F.when(
        F.col("_p_nd") > 0, F.col("_c_nd").cast("double") / F.col("_p_nd")
    )
    mean_delta = F.when(
        F.col("_p_avg").isNotNull() & F.col("_c_avg").isNotNull(),
        F.when(
            F.col("_p_avg") != 0.0,
            F.abs(F.col("_c_avg") - F.col("_p_avg")) / F.abs(F.col("_p_avg")),
        ).otherwise(F.abs(F.col("_c_avg") - F.col("_p_avg"))),
    )
    metrics = [
        F.struct(
            F.lit("null_rate").alias("metric"),
            pr.alias("prev_value"),
            cr.alias("cur_value"),
            null_delta.alias("delta"),
            (null_delta > F.lit(float(null_rate_jump))).alias("flagged"),
        ),
        F.struct(
            F.lit("n_distinct").alias("metric"),
            F.col("_p_nd").cast("double").alias("prev_value"),
            F.col("_c_nd").cast("double").alias("cur_value"),
            nd_ratio.alias("delta"),
            F.coalesce(
                nd_ratio < F.lit(float(distinct_drop)), F.lit(False)
            ).alias("flagged"),
        ),
        F.struct(
            F.lit("avg_value").alias("metric"),
            F.col("_p_avg").alias("prev_value"),
            F.col("_c_avg").alias("cur_value"),
            mean_delta.alias("delta"),
            F.coalesce(
                mean_delta > F.lit(float(mean_shift)), F.lit(False)
            ).alias("flagged"),
        ),
    ]
    return j.select("column_name", F.inline(F.array(*metrics)))


def histogram_drift(
    cur: DataFrame,
    prev: DataFrame,
    *,
    psi_threshold: float = 0.2,
    epsilon: float = 1e-6,
) -> DataFrame:
    """Population Stability Index between two :func:`numeric_histogram`
    relations built on the SAME fixed grid — the standard distribution-
    drift metric :func:`profile_drift`'s moment checks can't see (a
    symmetric variance blow-up leaves the mean untouched; PSI catches it).

    ``PSI = Σ_buckets (p_cur − p_prev) · ln(p_cur / p_prev)`` over bucket
    probability masses, with ``epsilon`` standing in for an empty side of
    a bucket (the conventional smoothing — a bucket present in one batch
    and absent in the other contributes a large finite term, not ±inf).
    Returns ONE row: ``(psi, n_buckets, prev_total, cur_total, flagged)``
    with the usual reading — <0.1 stable, 0.1–0.25 moderate shift, >0.25
    action; ``flagged`` ⇔ psi > ``psi_threshold``.

    Scale shape: both inputs are ≤``bins``-row relations, so this is a
    bins-row full-outer join + one aggregate — free next to the scans
    that built the histograms. A grid mismatch (same bucket id with
    different edges) raises AT EXECUTION via a ``raise_error`` branch
    folded into the PSI term: PSI over mismatched grids is meaningless,
    and validating eagerly would materialize both histogram lineages a
    second time (the first version of this operator did exactly that —
    two extra scans of the tables that built them).
    """
    # every step is SQL text over fixed names: one parsed string per
    # column (the drift row evaluates this operator twice per construct)
    side = ("bucket", "bucket_lo AS _{0}_lo", "bucket_hi AS _{0}_hi",
            "bucket_n AS _{0}_n")
    p = prev.selectExpr(*[f.format("p") for f in side])
    c = cur.selectExpr(*[f.format("c") for f in side])
    j = c.join(p, "bucket", "full_outer")
    grid_ok = ("_p_lo IS NULL OR _c_lo IS NULL"
               " OR (_p_lo = _c_lo AND _p_hi = _c_hi)")
    pn = "CAST(coalesce(_p_n, 0) AS DOUBLE)"
    cn = "CAST(coalesce(_c_n, 0) AS DOUBLE)"
    # Totals via an unpartitioned window over the ≤bins-row join, NOT a
    # separate aggregate cross-joined back: that second shape executes the
    # join lineage — histogram builds AND their source scans — twice. The
    # single-partition window is trivial at ≤bins rows and keeps each
    # histogram side at exactly one source scan.
    tp = f"sum({pn}) OVER (PARTITION BY 1)"
    tc = f"sum({cn}) OVER (PARTITION BY 1)"
    eps = sql_double(float(epsilon))
    # probability mass per bucket, epsilon-smoothed; an EMPTY relation on
    # either side (total 0) yields epsilon everywhere => psi 0, not NaN
    pp = f"greatest(CASE WHEN {tp} > 0 THEN {pn} / {tp} ELSE 0.0D END, {eps})"
    pc = f"greatest(CASE WHEN {tc} > 0 THEN {cn} / {tc} ELSE 0.0D END, {eps})"
    # the guard rides the summed term (not a separate pass, and not
    # prunable): any mismatched-grid bucket fails the job with the message
    term = (f"CASE WHEN {grid_ok} THEN ({pc} - {pp}) * ln({pc} / {pp}) "
            "ELSE CAST(raise_error('histogram grids disagree; build both "
            "histograms with the same (lo, hi, bins)') AS DOUBLE) END")
    return j.selectExpr(
        f"{term} AS _t", f"{tp} AS _tp", f"{tc} AS _tc",
    ).selectExpr(
        "coalesce(sum(_t), 0.0D) AS psi",
        "CAST(count(1) AS BIGINT) AS n_buckets",
        "CAST(coalesce(max(_tp), 0.0D) AS BIGINT) AS prev_total",
        "CAST(coalesce(max(_tc), 0.0D) AS BIGINT) AS cur_total",
    ).selectExpr(
        f"{spark_round6('psi')} AS psi", "n_buckets", "prev_total",
        "cur_total", f"psi > {sql_double(float(psi_threshold))} AS flagged",
    )


# ---------------------------------------------------------------------------
# Mergeable profile state: profile each batch ONCE, fold states forever
# ---------------------------------------------------------------------------
#
# column_stats answers "what does this table look like?" with one scan of
# the whole table. At 100 TB with daily appends that is the wrong shape:
# the table was already scanned once per batch when it was written, and a
# nightly full-table profile re-reads everything ever ingested. These three
# operators close that gap the same way a keyed-aggregate fold through
# incremental_state_versioned does — the per-column stats block is
# re-expressed as an ALGEBRAIC state (counts, decimal-exact sums,
# order-preserving min/max encodings, a DataSketches HLL sketch for
# cardinality) that merges
# associatively: profile_state(batch) per delta, merge_profile_states to
# fold, stats_from_state to materialize the exact column_stats relation —
# all without touching stored data again. The only non-algebraic
# column_stats metric is the exact distinct count; the state carries the
# mergeable HLL sketch instead (the same trade column_stats itself makes
# at scale with exact_distinct=False), so stats_from_state's n_distinct is
# an estimate (exact in HLL sparse mode at small cardinalities).
#
# Cross-engine exactness of everything else is by construction: sums
# round each value to decimal(24,6) exactly like column_stats, then fold
# in decimal(38,6) (exact addition ⇒ merged avg == full-scan avg bit for
# bit); numeric min/max fold as decimal(38,6) (rounding to 6 dp is weakly
# monotone, so min-of-rounded == rounded-min); string/date/timestamp/
# boolean min/max fold as their portable renderings, each of which is
# lexicographically order-preserving ('yyyy-MM-dd HH:mm:ss' timestamps,
# ISO dates, 'false' < 'true'). DecimalType columns are normalized through
# decimal(24,6) here (a documented divergence: column_stats renders them
# at native scale, which a type-erased state row cannot reconstruct).

PROFILE_STATE_FIELDS = (
    "batch_id",
    "column_name",
    "dtype",
    "n_rows",
    "n_nonnull",
    "sum_value",
    "sum_len",
    "min_num",
    "max_num",
    "min_str",
    "max_str",
    "distinct_sketch",
)

_INTEGRAL_NAMES = ("tinyint", "smallint", "int", "bigint")


def profile_state(
    df: DataFrame,
    cols: Sequence[str] | None = None,
    *,
    batch_expr: Column | None = None,
    track_distinct: bool = True,
    lgk: int = 12,
    timestamp_format: str = "yyyy-MM-dd HH:mm:ss",
) -> DataFrame:
    """Per-column ALGEBRAIC profile state of ``df`` (see the section note
    above): one row per profiled column — or per (batch, column) when
    ``batch_expr`` is given, which profiles N batches in ONE grouped scan
    (the backfill shape: state for every historical partition from a
    single pass). Output schema is :data:`PROFILE_STATE_FIELDS`;
    ``batch_id`` is the stringified ``batch_expr`` (literal ``'all'``
    without one).

    One aggregate job over one column-pruned scan; with ``batch_expr`` the
    shuffle carries one partial state row per batch per map partition
    (map-side combine — batches × cols rows total). ``track_distinct``
    attaches a DataSketches HLL sketch (``lgk`` config) over the 64-bit
    xxhash of each non-null value — uniform across types, mergeable with
    :func:`merge_profile_states`; pass ``False`` to skip the sketch cost
    when cardinality is not needed (``n_distinct`` derives as NULL).
    """
    fields, names = _resolve_cols(df, cols)
    aggs = [("__n_rows", "CAST(count(1) AS BIGINT)")]
    null_dec = "CAST(NULL AS DECIMAL(38,6))"
    for i, c in enumerate(names):
        dt = fields[c]
        col = sql_ident(c)
        aggs.append((f"__s{i}__nn", f"CAST(count({col}) AS BIGINT)"))
        if _is_numeric(dt):
            aggs += [
                (f"__s{i}__sum", "CAST(sum(CAST(" + col
                 + " AS DECIMAL(24,6))) AS DECIMAL(38,6))"),
                (f"__s{i}__mnn", f"CAST(min({col}) AS DECIMAL(38,6))"),
                (f"__s{i}__mxn", f"CAST(max({col}) AS DECIMAL(38,6))"),
            ]
        else:
            aggs += [(f"__s{i}__{k}", null_dec) for k in ("sum", "mnn", "mxn")]
        if isinstance(dt, T.StringType):
            slen = (f"CAST(sum(CAST(length({col}) AS DECIMAL(24,6)))"
                    " AS DECIMAL(38,6))")
        else:
            slen = null_dec
        aggs.append((f"__s{i}__len", slen))
        if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
            fmt = sql_str(timestamp_format)
            mns = f"date_format(min({col}), {fmt})"
            mxs = f"date_format(max({col}), {fmt})"
        elif isinstance(dt, (T.StringType, T.DateType, T.BooleanType)):
            mns = f"CAST(min({col}) AS STRING)"
            mxs = f"CAST(max({col}) AS STRING)"
        else:
            mns = mxs = "CAST(NULL AS STRING)"
        aggs.append((f"__s{i}__mns", mns))
        aggs.append((f"__s{i}__mxs", mxs))
        if track_distinct:
            sk = (f"hll_sketch_agg(CASE WHEN {col} IS NOT NULL "
                  f"THEN xxhash64({col}) END, {int(lgk)})")
        else:
            sk = "CAST(NULL AS BINARY)"
        aggs.append((f"__s{i}__hll", sk))
    group = None
    if batch_expr is not None:
        group = batch_expr.cast("string").alias("__batch")
    row = _agg_row(df, aggs, group=group)
    batch = "__batch" if group is not None else "'all'"
    return row.selectExpr(_inline([{
        "batch_id": batch,
        "column_name": sql_str(c),
        "dtype": sql_str(fields[c].simpleString()),
        "n_rows": "__n_rows",
        "n_nonnull": f"__s{i}__nn",
        "sum_value": f"__s{i}__sum",
        "sum_len": f"__s{i}__len",
        "min_num": f"__s{i}__mnn",
        "max_num": f"__s{i}__mxn",
        "min_str": f"__s{i}__mns",
        "max_str": f"__s{i}__mxs",
        "distinct_sketch": f"__s{i}__hll",
    } for i, c in enumerate(names)]))


def merge_profile_states(*states: DataFrame) -> DataFrame:
    """Fold any number of :func:`profile_state` relations (and/or already-
    merged states) into one state row per column: counts and sums add
    (decimal-exact), min/max encodings fold under their order-preserving
    representations, HLL sketches union (``hll_union_agg`` — register-wise
    max). Associative and commutative: fold per-batch states in any
    order, any grouping, and every metric is identical (the sketch
    estimate included — unions are order-invariant). The one artifact of
    merging: a unioned sketch estimates with DataSketches' composite
    estimator while a single-pass sketch uses HIP, so a merged
    ``n_distinct`` can differ from a one-shot profile's by a fraction of
    the ~1.6 % lgk=12 error band — both are estimates of the same thing. The merge input is k·cols rows of state — never data — so
    folding a year of daily batches costs a 365·cols-row aggregate.

    Columns must agree on dtype across states (a retyped column is a
    schema change — diff it with ``schema_diff``, don't merge through it);
    disagreeing dtypes surface as separate (column_name, dtype) rows
    rather than silently mixing incompatible encodings."""
    if not states:
        raise ValueError("need at least one profile_state relation")
    all_states = states[0]
    for s in states[1:]:
        all_states = all_states.unionByName(s)
    return (
        all_states.groupBy("column_name", "dtype")
        .agg(
            F.sum("n_rows").cast("long").alias("n_rows"),
            F.sum("n_nonnull").cast("long").alias("n_nonnull"),
            F.sum("sum_value").cast("decimal(38,6)").alias("sum_value"),
            F.sum("sum_len").cast("decimal(38,6)").alias("sum_len"),
            F.min("min_num").alias("min_num"),
            F.max("max_num").alias("max_num"),
            F.min("min_str").alias("min_str"),
            F.max("max_str").alias("max_str"),
            # hll_union_agg of zero sketches yields an EMPTY sketch, not
            # NULL — preserve NULL-ness so a track_distinct=False history
            # keeps deriving n_distinct = NULL (unknown), not 0 (all-null)
            F.hll_union_agg("distinct_sketch").alias("__sk"),
            F.max(F.col("distinct_sketch").isNotNull()).alias("__had"),
        )
        .select(
            F.lit("merged").alias("batch_id"),
            *[c for c in PROFILE_STATE_FIELDS if c not in ("batch_id", "distinct_sketch")],
            F.when(F.col("__had"), F.col("__sk")).alias("distinct_sketch"),
        )
    )


def stats_from_state(state: DataFrame) -> DataFrame:
    """Materialize the :func:`column_stats` relation (column_name, dtype,
    n_rows, n_nulls, n_distinct, min_value, max_value, avg_value,
    avg_len) from a (merged) profile state — zero scans of the profiled
    data. Every metric except ``n_distinct`` is bit-identical to a
    full-table ``column_stats`` run by the algebra in the section note;
    ``n_distinct`` is the HLL estimate (NULL when the state was built with
    ``track_distinct=False``), 0 for an all-null/empty column."""
    dtype = F.col("dtype")
    is_int = dtype.isin(*_INTEGRAL_NAMES)
    num_render = F.when(
        is_int, F.col("min_num").cast("long").cast("string")
    ).otherwise(F.col("min_num").cast("decimal(24,6)").cast("string"))
    num_render_mx = F.when(
        is_int, F.col("max_num").cast("long").cast("string")
    ).otherwise(F.col("max_num").cast("decimal(24,6)").cast("string"))
    nn = F.col("n_nonnull")
    return state.select(
        F.col("column_name"),
        dtype,
        F.col("n_rows"),
        (F.col("n_rows") - nn).cast("long").alias("n_nulls"),
        F.when(nn == 0, F.lit(0).cast("long"))
        .otherwise(F.hll_sketch_estimate(F.col("distinct_sketch")))
        .cast("long")
        .alias("n_distinct"),
        F.coalesce(F.col("min_str"), num_render).alias("min_value"),
        F.coalesce(F.col("max_str"), num_render_mx).alias("max_value"),
        F.when(
            (nn > 0) & F.col("sum_value").isNotNull(),
            round6(F.col("sum_value").cast("double") / nn),
        ).alias("avg_value"),
        F.when(
            (nn > 0) & F.col("sum_len").isNotNull(),
            round6(F.col("sum_len").cast("double") / nn),
        ).alias("avg_len"),
    )


# Histogram state: the SHAPE half of the committed drift baseline. Moments
# (profile_state) catch null-rate/mean/cardinality shifts; PSI needs the
# distribution itself. Bucket counts are plain integers, so the fold is
# exact — merged per-batch histograms are bit-identical to a full-table
# numeric_histogram, unlike the estimated n_distinct.

HIST_STATE_FIELDS = (
    "batch_id",
    "column_name",
    "grid_lo",
    "grid_hi",
    "grid_bins",
    "bucket",
    "bucket_n",
)


def histogram_state(
    df: DataFrame,
    specs: Sequence[tuple[str, float, float, int]],
    *,
    batch_expr: Column | None = None,
) -> DataFrame:
    """Fixed-grid histogram counts for any number of (col, lo, hi, bins)
    specs from ONE scan: each row contributes one bucket per spec
    (:func:`numeric_histogram`'s exact bucket arithmetic — NULL/NaN
    dropped, out-of-range clamped to the edge buckets), exploded and
    counted by (spec, bucket) with map-side combine, so the shuffle
    carries ≤ Σ bins rows per partition regardless of N. With
    ``batch_expr``, per-batch histograms from the same single pass (the
    backfill shape). Schema :data:`HIST_STATE_FIELDS`; the grid columns
    ride every row so merges can never silently mix grids.

    Merge with :func:`merge_histogram_states` (integer sums — exact);
    re-materialize the ``numeric_histogram`` relation with
    :func:`hist_from_state`."""
    if not specs:
        raise ValueError("need at least one (col, lo, hi, bins) spec")
    entries = []
    for si, (c, lo, hi, bins) in enumerate(specs):
        if bins <= 0:
            raise ValueError(f"bins must be positive, got {bins}")
        if not float(hi) > float(lo):
            raise ValueError(f"need hi > lo, got [{lo}, {hi})")
        width = (float(hi) - float(lo)) / bins
        x = _ref(c).cast("double")
        b = F.floor((x - F.lit(float(lo))) / F.lit(width)).cast("int")
        b = F.least(F.greatest(b, F.lit(0)), F.lit(bins - 1))
        entries.append(
            F.when(
                x.isNotNull() & ~F.isnan(x),
                F.struct(F.lit(si).alias("si"), b.alias("bucket")),
            )
        )
    batch = (
        batch_expr.cast("string") if batch_expr is not None else F.lit("all")
    )
    hit = F.explode(F.array_compact(F.array(*entries))).alias("hit")
    counts = (
        df.select(batch.alias("batch_id"), hit)
        .groupBy("batch_id", "hit.si", "hit.bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("bucket_n"))
    )
    # spec metadata back onto the ≤ Σ bins result rows as literals
    name = cn = lo_c = hi_c = bins_c = None
    for si, (c, lo, hi, bins) in enumerate(specs):
        cond = F.col("si") == si
        cn = F.when(cond, F.lit(c)) if cn is None else cn.when(cond, F.lit(c))
        lo_c = (
            F.when(cond, F.lit(float(lo)))
            if lo_c is None
            else lo_c.when(cond, F.lit(float(lo)))
        )
        hi_c = (
            F.when(cond, F.lit(float(hi)))
            if hi_c is None
            else hi_c.when(cond, F.lit(float(hi)))
        )
        bins_c = (
            F.when(cond, F.lit(int(bins)))
            if bins_c is None
            else bins_c.when(cond, F.lit(int(bins)))
        )
    return counts.select(
        "batch_id",
        cn.alias("column_name"),
        lo_c.alias("grid_lo"),
        hi_c.alias("grid_hi"),
        bins_c.alias("grid_bins"),
        F.col("bucket"),
        "bucket_n",
    )


def merge_histogram_states(*states: DataFrame) -> DataFrame:
    """Fold histogram states: integer bucket sums grouped on the FULL grid
    identity (column, lo, hi, bins, bucket), so two batches histogrammed
    on different grids stay separate rows instead of silently mixing —
    the same shared-grid discipline :func:`histogram_drift` enforces at
    compare time. Exact (integer addition), associative, commutative;
    the merge input is ≤ Σ bins rows per state, never data."""
    if not states:
        raise ValueError("need at least one histogram_state relation")
    all_states = states[0]
    for s in states[1:]:
        all_states = all_states.unionByName(s)
    return (
        all_states.groupBy(
            "column_name", "grid_lo", "grid_hi", "grid_bins", "bucket"
        )
        .agg(F.sum("bucket_n").cast("long").alias("bucket_n"))
        .select(
            F.lit("merged").alias("batch_id"),
            *[c for c in HIST_STATE_FIELDS if c != "batch_id"],
        )
    )


def hist_from_state(state: DataFrame, col: str) -> DataFrame:
    """Materialize one column's :func:`numeric_histogram` relation
    (``bucket, bucket_lo, bucket_hi, bucket_n``) from a (merged)
    histogram state — bit-identical to a full-table run (integer counts;
    the bucket-edge arithmetic repeats numeric_histogram's IEEE ops).
    Feed two of these to :func:`histogram_drift` for PSI between any two
    committed shapes, zero rescans.

    Raises ``ValueError`` if the state holds MORE THAN ONE grid for
    ``col`` (a spec change mid-history: :func:`merge_histogram_states`
    deliberately keeps both grids as separate rows) — colliding bucket
    ids from two grids would otherwise interleave here and silently
    corrupt every readout built on this relation (PSI, quantiles). The
    check is one distinct-count over the ≤Σ bins-row state slice —
    control-plane, never data."""
    grids = (
        state.filter(F.col("column_name") == col)
        .select("grid_lo", "grid_hi", "grid_bins")
        .distinct()
        .collect()
    )
    if len(grids) > 1:
        specs = sorted(
            (r["grid_lo"], r["grid_hi"], r["grid_bins"]) for r in grids
        )
        raise ValueError(
            f"histogram state for column {col!r} holds {len(grids)} "
            f"different grids {specs} — the grid spec changed between "
            "batches. Rebuild the histogram state on one grid (or slice "
            "the state to one version) before reading it back; mixing "
            "grids would silently corrupt bucket counts."
        )
    width = (F.col("grid_hi") - F.col("grid_lo")) / F.col("grid_bins")
    return state.filter(F.col("column_name") == col).select(
        "bucket",
        (F.col("grid_lo") + F.col("bucket") * width).alias("bucket_lo"),
        (F.col("grid_lo") + (F.col("bucket") + 1) * width).alias("bucket_hi"),
        "bucket_n",
    )


def quantiles_from_state(
    state: DataFrame, col: str, qs: Sequence[float]
) -> DataFrame:
    """Approximate quantiles straight off a (merged) histogram state —
    zero scans of the profiled data, the committed-baseline twin of
    ``approx_percentile``. ``(q, value)`` per requested quantile, by
    linear interpolation within the containing fixed-grid bucket; the
    error is bounded by one bucket width (choose ``bins`` accordingly
    when starting to track the column). Values below/above the grid were
    CLAMPED into the edge buckets at histogram time, so edge-bucket
    quantiles saturate at the grid bounds — the same contract as
    :func:`numeric_histogram`.

    Runs as Column arithmetic over the ≤bins-row state slice (one
    bounded-row cumulative window + a per-q selection), so deriving
    p50/p95/p99 for a dashboard costs nothing beyond the fold the
    pipeline already committed."""
    if not qs:
        raise ValueError("need at least one quantile in (0, 1]")
    bad = [q for q in qs if not 0.0 < float(q) <= 1.0]
    if bad:
        raise ValueError(f"quantiles must be in (0, 1], got {bad}")
    h = hist_from_state(state, col)
    if not h.take(1):
        raise KeyError(f"no histogram state for column {col!r}")
    # cumulative mass over the ≤bins-row relation (bounded-row window —
    # same sanction as histogram_drift's totals window)
    w = Window.partitionBy(F.lit(1)).orderBy("bucket")
    cum = h.select(
        "bucket",
        "bucket_lo",
        "bucket_hi",
        "bucket_n",
        F.sum("bucket_n").over(w).alias("_cum"),
        F.sum("bucket_n").over(
            Window.partitionBy(F.lit(1)).orderBy("bucket").rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("_total"),
    )
    rows = []
    for q in qs:
        qf = float(q)
        target = F.lit(qf) * F.col("_total")
        # first bucket whose cumulative mass reaches the target
        hit = (
            cum.filter(F.col("_cum") >= target)
            .orderBy("bucket")
            .limit(1)
            .select(
                F.lit(qf).alias("q"),
                # interpolate within the bucket: fraction of the bucket's
                # own mass needed to reach the target
                (
                    F.col("bucket_lo")
                    + (F.col("bucket_hi") - F.col("bucket_lo"))
                    * (
                        (target - (F.col("_cum") - F.col("bucket_n")))
                        / F.col("bucket_n")
                    )
                ).alias("value"),
            )
        )
        rows.append(hit)
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


# Heavy-hitters state: the top-k half of the committed baseline. Unlike
# counts/sums (exact) and HLL (fixed error), per-batch top-k truncation
# loses information deterministically: a value absent from a batch's kept
# set has an UNKNOWN count in that batch, bounded above by the smallest
# count the batch kept (equality possible — rank ties break lexically).
# The merge therefore reports [n_min, n_max] bounds
# (classic distributed top-k semantics) instead of pretending exactness —
# n_min == n_max exactly when the value survived every batch's cut.


def topk_state(
    df: DataFrame,
    col: str,
    *,
    k_track: int = 100,
    batch_expr: Column | None = None,
) -> DataFrame:
    """Per-batch exact top-``k_track`` value counts of ``col`` (NULLs
    excluded, values stringified like :func:`top_values`), plus the
    batch's truncation threshold ``batch_min_kept`` (the smallest kept
    count — every unkept value in the batch counts AT MOST that much
    (ties break lexically at the cut), or 0 when nothing was truncated
    because the batch had ≤ k_track distinct values). Track MORE than you report (k_track ≫ k) — the slack is
    what keeps merged bounds tight.

    One grouped count over one scan (map-side combined), then a
    per-batch rank over the VALUE-COUNT relation (|distinct values| rows
    per batch, not data rows). For ultra-high-cardinality columns where
    even the distinct relation is huge, profile a support-filtered view
    (``df.filter``) or track a coarser rollup — the window is per-batch
    and honest about that bound."""
    if k_track <= 0:
        raise ValueError(f"k_track must be positive, got {k_track}")
    batch = (
        batch_expr.cast("string") if batch_expr is not None else F.lit("all")
    )
    counts = (
        df.filter(_ref(col).isNotNull())
        .select(batch.alias("batch_id"), _ref(col).cast("string").alias("value"))
        .groupBy("batch_id", "value")
        .agg(F.count(F.lit(1)).cast("long").alias("value_n"))
    )
    w = Window.partitionBy("batch_id").orderBy(
        F.desc("value_n"), F.asc("value")
    )
    ranked = counts.withColumn("_rn", F.row_number().over(w)).withColumn(
        "_n_distinct", F.count(F.lit(1)).over(Window.partitionBy("batch_id"))
    )
    kept = ranked.filter(F.col("_rn") <= k_track)
    # threshold: smallest kept count if the batch truncated, else 0
    wb = Window.partitionBy("batch_id")
    return kept.select(
        "batch_id",
        F.lit(col).alias("column_name"),
        "value",
        "value_n",
        F.when(
            F.col("_n_distinct") > k_track, F.min("value_n").over(wb)
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("batch_min_kept"),
    )


def merge_topk_states(*states: DataFrame) -> DataFrame:
    """Fold per-batch top-k states into global count BOUNDS per value:
    ``(column_name, value, n_min, n_max)`` where ``n_min`` sums the
    batches that kept the value and ``n_max`` adds, for every batch that
    did NOT, that batch's truncation threshold (an unkept value counts at
    most the smallest kept one — ties at the cut break lexically, so
    equality is possible). Bounds are sharp under the state's
    information; ``n_min == n_max`` iff the value survived every batch's
    cut. The merge input is ≤ k_track rows per batch per column — state,
    never data. States from separate :func:`topk_state` calls are
    disambiguated per input relation, so three un-batched calls merge as
    three batches, not one.

    Guarantee inherited from per-batch exactness: any value whose true
    count exceeds Σ_b threshold_b appears in the merged relation, so a
    sufficiently dominant heavy hitter can never be missed.

    Unlike profile/histogram states, the merged BOUNDS relation is not
    itself re-mergeable (bounds don't add) — retain the per-batch state
    rows (≤ k_track per batch, trivial storage) and re-merge from
    those."""
    if not states:
        raise ValueError("need at least one topk_state relation")
    # prefix batch ids per input relation: separate un-batched calls all
    # say batch_id='all' and must not collapse into one batch
    tagged = [
        s.withColumn(
            "batch_id", F.concat(F.lit(f"s{i}:"), F.col("batch_id"))
        )
        for i, s in enumerate(states)
    ]
    all_states = tagged[0]
    for s in tagged[1:]:
        all_states = all_states.unionByName(s)
    # per-(column, batch) threshold relation: k-row control plane
    thresholds = all_states.groupBy("column_name", "batch_id").agg(
        F.max("batch_min_kept").alias("_t")
    )
    totals = thresholds.groupBy("column_name").agg(
        # Σ_b t_b: the total mass a value could hide at-or-below
        F.sum("_t").alias("_t_total")
    )
    per_value = all_states.groupBy("column_name", "value").agg(
        F.sum("value_n").cast("long").alias("n_min"),
        # slack actually available to THIS value: thresholds of batches
        # it was present in don't apply to it
        F.sum("batch_min_kept").cast("long").alias("_t_present"),
    )
    return (
        per_value.join(F.broadcast(totals), "column_name")
        .select(
            "column_name",
            "value",
            "n_min",
            (F.col("n_min") + F.col("_t_total") - F.col("_t_present"))
            .cast("long")
            .alias("n_max"),
        )
    )


def topk_from_state(merged: DataFrame, col: str, k: int = 10) -> DataFrame:
    """The :func:`top_values`-shaped readout from a merged top-k state:
    ``(value, value_n, rank, exact)`` ranked by the LOWER bound (the
    conservative order — a value only outranks another when even its
    pessimistic count wins ties deterministically), with ``value_n`` =
    n_min and ``exact`` true iff the bounds coincide. TakeOrdered over
    the state relation; never touches data."""
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    top = (
        merged.filter(F.col("column_name") == col)
        .orderBy(F.desc("n_min"), F.asc("value"))
        .limit(k)
    )
    w = Window.orderBy(F.desc("n_min"), F.asc("value"))
    return top.select(
        "value",
        F.col("n_min").alias("value_n"),
        F.row_number().over(w).cast("int").alias("rank"),
        (F.col("n_min") == F.col("n_max")).alias("exact"),
    )
