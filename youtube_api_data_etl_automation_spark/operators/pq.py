"""Product quantization (PQ) over embedding columns — the memory half of
IVF-PQ, the standard architecture for ANN at 1e9+ vectors (Jégou et al.,
"Product Quantization for Nearest Neighbor Search", TPAMI 2011).

Reference parity note: the reference repo (fetch_youtube_data.py) has no
vector surface at all; this module is part of the training-data-pipeline
extension mandate (SURVEY.md §7.3b similarity family), completing the ANN
ladder: brute force (exact) → sign-LSH / IVF (candidate pruning) → PQ
(per-vector compression + cheap approximate scoring).

Why PQ matters at 100 TB: a float32 d=64 corpus is 256 B/vector; PQ with
m=4 subspaces and k=8 centroids stores 4 small codes (< 4 B) — a ~64×
working-set reduction, so the scored relation carries codes, never raw
vectors. The caller supplies the codebooks (plain Python floats); both
stages are Spark-shaped:

- ``pq_encode``: codebooks enter as LITERAL nested arrays (m·k·d/m
  doubles — broadcast via the plan itself), so encoding is a pure
  map-side Column expression: no join, no shuffle, no Python. Cost is
  O(d·k) multiply-adds per row, embarrassingly parallel.
- ``pq_topk``: asymmetric distance computation (ADC) — each document is
  scored against a query through its RECONSTRUCTED vector (per-subspace
  codebook lookup), again fully map-side off literal codebooks; only the
  per-query top-k window shuffles (query_id-partitioned, same shape as
  brute_force_topk).

Determinism / oracle contract (the DuckDB value-hash gate): every
dot product is a left fold over doubles (functions/vectors.py ≡ DuckDB
``list_dot_product`` — the equivalence the ann/semantic oracles already
pin); assignment scores and per-subspace ADC contributions snap to the
round6 grid, and cross-subspace sums accumulate in DECIMAL(18,6) so they
are exact and order-independent; argmin ties break to the lowest centroid
index on both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.rounding import round6
from ..functions.vectors import lit_double_array, sql_double_array
from .similarity import _rank_topk, _rename_query

Codebooks = list[list[list[float]]]  # [subspace][centroid][component]


def _subvec(vec_col: str | F.Column, s: int, dsub: int) -> F.Column:
    """Subspace s's slice of the vector, widened to double BEFORE any
    multiplication (the deterministic-fold contract of functions/vectors)."""
    col = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    return F.transform(
        F.slice(col, s * dsub + 1, dsub), lambda x: x.cast("double")
    )


# --- SQL-text twins of the literal-codebook expression builders (r14) ----
# Building the m·k scoring tree through Column higher-order functions costs
# ~13 driver↔JVM round-trips PER zip_with/aggregate/transform (lambda
# construction) — ~20k round-trips and seconds of plan-construction latency
# per pq_encode/_adc_cosine call (guide §7.3). One F.expr string is ONE
# round-trip and parses to the same expression nodes; values are pinned by
# the ann_topk pq_adc oracle and the numpy differentials in tests/test_pq.


def _qn(name: str) -> str:
    """Backtick-quote a column name for SQL text."""
    return "`" + name.replace("`", "``") + "`"


def _round6_sql(x: str) -> str:
    """Spark-SQL text of functions.rounding.round6 (D-suffixed literals —
    plain decimals would parse as DECIMAL and change the expression)."""
    return f"floor(({x}) * 1000000.0D + 0.5D) / 1000000.0D"


def _subvec_sql(vec_sql: str, s: int, dsub: int) -> str:
    return (f"transform(slice({vec_sql}, {s * dsub + 1}, {dsub}), "
            "x -> CAST(x AS DOUBLE))")


def _dot_sql(xs_sql: str, cv: list[float]) -> str:
    return (f"aggregate(zip_with({xs_sql}, {sql_double_array(cv)}, "
            "(a, b) -> a * b), 0.0D, (acc, v) -> acc + v)")


def _cc_sql(cv: list[float]) -> str:
    return (f"aggregate(transform({sql_double_array(cv)}, x -> x * x), "
            "0.0D, (acc, v) -> acc + v)")


def _assign_score_sql(xs_sql: str, cv: list[float]) -> str:
    return _round6_sql(f"{_dot_sql(xs_sql, cv)} - 0.5D * {_cc_sql(cv)}")


def _argmax_sql(scores: list[str]) -> str:
    inner = "array(" + ",".join(scores) + ")"
    return ("CAST(element_at(transform(array(" + inner + "), "
            "sc -> array_position(sc, array_max(sc))), 1) - 1 AS INT)")


def _codes_sql(vec_name: str, codebooks: Codebooks) -> str:
    """The whole pq_encode ``codes`` array as one SQL string."""
    m, k = len(codebooks), len(codebooks[0])
    dsub = len(codebooks[0][0])
    v = _qn(vec_name)
    return "array(" + ",".join(
        _argmax_sql([
            _assign_score_sql(_subvec_sql(v, s, dsub), codebooks[s][j])
            for j in range(k)
        ])
        for s in range(m)
    ) + ")"


def _dot_lit(xs: F.Column, cv: list[float]) -> F.Column:
    """Left-fold dot product of a column subvector against a literal
    centroid — the same op sequence as DuckDB's list_dot_product.
    The centroid enters as ONE array literal (r14: element-wise
    F.lit cost ~m·k·d driver round-trips per plan — see
    functions/vectors.lit_double_array)."""
    prods = F.zip_with(xs, lit_double_array(cv), lambda a, b: a * b)
    return F.aggregate(prods, F.lit(0.0), lambda acc, v: acc + v)


def _dot_cc_lit(cv: list[float]) -> F.Column:
    """Engine-side ||c||² of a literal centroid. Computed in the plan (not
    driver-side Python) so the oracle's list_dot_product(cv, cv) is
    mirrored op-for-op — no Python-float-vs-engine question to audit."""
    return F.aggregate(
        F.transform(lit_double_array(cv), lambda x: x * x),
        F.lit(0.0), lambda acc, v: acc + v,
    )


def _assign_score(xs: F.Column, cv: list[float]) -> F.Column:
    """Nearest-centroid score: dot(x,c) − ½·dot(c,c), maximized ⇔ squared-L2
    minimized (the ‖x‖² term is constant per row). Snapped to the round6
    grid so both engines see identical values and identical argmax ties."""
    return round6(_dot_lit(xs, cv) - F.lit(0.5) * _dot_cc_lit(cv))


def _argmax_code(scores: list[F.Column]) -> F.Column:
    """0-based index of the max score, FIRST occurrence (lowest centroid
    index) on ties. The scores array is bound as a lambda variable via a
    1-element transform so the k-fold score expressions evaluate once, not
    once per array_position probe (the CSE rule functions/vectors.py
    documents for higher-order lambdas)."""
    arr = F.array(*scores)
    return (
        F.element_at(
            F.transform(
                F.array(arr), lambda sc: F.array_position(sc, F.array_max(sc))
            ),
            1,
        )
        - 1
    ).cast("int")


def pq_encode(corpus: DataFrame, codebooks: Codebooks,
              id_col: str = "vec_id", vec_col: str = "embedding",
              keep: tuple[str, ...] = ()) -> DataFrame:
    """Encode each vector to its array<int> of per-subspace nearest-centroid
    codes. Pure map-side Column expression over literal codebooks: the
    plan has NO exchange and NO join (pinned in tests/test_pq.py) — at
    100 TB this is a linear scan that writes a 64×-narrower relation.

    Output: (id_col, codes array<int> length m [, *keep]). The raw vector
    column is dropped — the point of PQ is that downstream scoring never
    touches it; ``keep`` carries extra columns through (e.g. an IVF
    ``cluster_id``).
    """
    m = len(codebooks)
    k = len(codebooks[0])
    dsub = len(codebooks[0][0])
    assert all(len(cb) == k and all(len(cv) == dsub for cv in cb) for cb in codebooks)
    if isinstance(vec_col, str):
        # one parsed SQL string instead of ~m·k·4 lambda-built HOFs
        codes = F.expr(_codes_sql(vec_col, codebooks))
    else:
        codes = F.array(
            *[
                _argmax_code(
                    [_assign_score(_subvec(vec_col, s, dsub), codebooks[s][j]) for j in range(k)]
                )
                for s in range(m)
            ]
        )
    return corpus.select(F.col(id_col), codes.alias("codes"), *keep)


def pq_topk(codes: DataFrame, queries: DataFrame, codebooks: Codebooks,
            top_k: int = 3, id_col: str = "vec_id",
            vec_col: str = "embedding") -> DataFrame:
    """ADC top-k: approximate cosine between each query and each document's
    reconstruction, computed per-subspace from literal codebooks —
    cos^(q, x̂) = Σ_s dot(q_s, ĉ_s) / (‖q‖ · sqrt(Σ_s dot(ĉ_s, ĉ_s))).

    ``codes`` is the pq_encode output — raw document vectors are never
    read, so the scored relation is (codes × tiny broadcast query set).
    Per-subspace contributions snap to round6 and sum in DECIMAL(18,6)
    (exact, order-free — matches the oracle's grouped SUM); ranking
    reuses _rank_topk so tie semantics are provably identical to the
    exact/LSH/IVF strategies. Output: (query_id, neighbor_id, rank,
    cosine) with cosine = the approximate (reconstructed) cosine.
    """
    q = _rename_query(queries, id_col, vec_col)
    q = F.broadcast(q.select("query_id", "query_vec"))
    scored = (
        codes.select(F.col("vec_id").alias("neighbor_id"), "codes")
        if id_col == "vec_id"
        else codes.select(F.col(id_col).alias("neighbor_id"), "codes")
    )
    scored = (
        scored.join(q, F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            _adc_cosine(codebooks).alias("cosine"),
        )
    )
    return _rank_topk(scored, top_k)


def _adc_cosine(codebooks: Codebooks) -> F.Column:
    """The ADC approximate-cosine Column over a relation carrying
    ``codes`` and ``query_vec``."""
    m = len(codebooks)
    dsub = len(codebooks[0][0])
    adc_terms, n2_terms = [], []
    for s in range(m):
        cb = codebooks[s]
        code_s = f"element_at(codes, {s + 1})"
        qs = _subvec_sql("query_vec", s, dsub)
        # dot(q_s, ĉ_s): fold q_s against each centroid, pick by code —
        # the k dots are cheap (dsub each) and the element_at keeps the
        # expression branch-free. All SQL text (r14): one parsed string
        # replaces ~m·k·2 lambda-built HOF round-trips.
        dots = "array(" + ",".join(_dot_sql(qs, cv) for cv in cb) + ")"
        ccs = "array(" + ",".join(_cc_sql(cv) for cv in cb) + ")"
        adc_terms.append(
            "CAST(" + _round6_sql(f"element_at({dots}, {code_s} + 1)")
            + " AS DECIMAL(18,6))"
        )
        n2_terms.append(
            "CAST(" + _round6_sql(f"element_at({ccs}, {code_s} + 1)")
            + " AS DECIMAL(18,6))"
        )
    adc = "CAST(" + " + ".join(adc_terms) + " AS DOUBLE)"
    n2 = "CAST(" + " + ".join(n2_terms) + " AS DOUBLE)"
    qq = ("aggregate(transform(query_vec, x -> CAST(x AS DOUBLE)), "
          "0.0D, (acc, v) -> acc + v * v)")
    return F.expr(_round6_sql(
        f"{adc} / nullif(sqrt({qq}) * sqrt({n2}), 0.0D)"))


# ---------------------------------------------------------------------------
# IVF-PQ at rest: cell-partitioned CODES — pruned I/O times compressed I/O
# ---------------------------------------------------------------------------
