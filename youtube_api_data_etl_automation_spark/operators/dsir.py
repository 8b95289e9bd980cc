"""DSIR-style data selection: importance resampling of a raw corpus toward
a small high-quality target distribution (Xie et al., "Data Selection for
Language Models via Importance Resampling", NeurIPS 2023 — public method).

Reference parity note: the reference repo (fetch_youtube_data.py) has no
curation surface; this module extends the training-data-pipeline mandate
(SURVEY.md §7.3b curation family) with the standard model-free selection
step between raw crawl and tokenizer: docs are scored by how much more
likely their hashed n-gram profile is under the target corpus than under
the raw pool, then sampled WITHOUT replacement proportionally to that
importance weight.

Spark shape — the three stages mirror the paper's linear-scan design:

1. ``bucket_logratios``: two token scans aggregate per-bucket counts
   (bucket = 256-way salted md5 of the token — functions/hashing.py, the
   engine's shared content-stable primitive) over the FULL bucket domain
   (spark.range join, so absent buckets get the smoothed default instead
   of silently vanishing); λ(b) = ln of the add-1-smoothed probability
   ratio. Output is a B-row relation — O(B) driver bytes, the "hashed
   generative model" the paper keeps in memory.
2. ``dsir_log_weights``: λ enters the plan as a LITERAL B-element array
   (the pq_encode trick), so per-doc scoring is a pure map-side SQL
   expression — tokens → bucket → element_at(λ) → DECIMAL(18,6) fold.
   NO join, NO shuffle, NO Python: at 100 TB this is one linear scan.
3. ``gumbel_select``: sampling without replacement ∝ exp(log_w) via the
   Gumbel-top-n trick — key = log_w − ln(−ln(u)) with the engine's exact
   52-bit md5 uniform (operators/sampling.py::stable_uniform), so the
   draw is content-stable and a TakeOrdered(n), not a full sort.

Determinism / oracle contract: counts are exact integers in double; λ and
every per-doc sum snap to the round6 grid with DECIMAL accumulation
(order-free); ln is the one transcendental, already pinned cross-engine by
the tfidf/PMI/PSI/A-ES oracle rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import md5_bucket
from ..functions.rounding import round6
from ..functions.text import tokens
from ..functions.vectors import sql_double_array
from .sampling import stable_uniform

DSIR_SALT = "dsir:"       # token → bucket (distinct from every other salt)
DSIR_DRAW_SALT = "dsir-g:"  # doc → uniform for the Gumbel draw


def _token_buckets(df: DataFrame, text_col: str, salt: str) -> DataFrame:
    """(bucket, c) token counts — explode is unavoidable for the count
    aggregate, but only (bucket) int rows shuffle, never text."""
    return (
        df.selectExpr(f"explode({tokens(text_col)}) AS _t")
        .selectExpr(f"{md5_bucket('_t', salt=salt)} AS bucket")
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def bucket_logratios(target: DataFrame, raw: DataFrame, *,
                     text_col: str = "text", buckets: int = 256,
                     salt: str = DSIR_SALT) -> DataFrame:
    """λ(b) = round6(ln(((ct(b)+1)·(Nr+B)) / ((cr(b)+1)·(Nt+B)))) over the
    full bucket domain 0..B-1 — add-1 smoothing, so buckets unseen in
    either corpus get the prior ratio instead of ±inf. Returns
    (bucket int, log_ratio double), exactly B rows."""
    spark = target.sparkSession
    tc = _token_buckets(target, text_col, salt)
    rc = _token_buckets(raw, text_col, salt)
    domain = spark.range(buckets).select(F.col("id").cast("int").alias("bucket"))
    joined = (
        domain.join(tc.withColumnRenamed("c", "ct"), "bucket", "left")
        .join(rc.withColumnRenamed("c", "cr"), "bucket", "left")
        .select(
            "bucket",
            F.coalesce(F.col("ct"), F.lit(0)).alias("ct"),
            F.coalesce(F.col("cr"), F.lit(0)).alias("cr"),
        )
    )
    # Totals as 1-row broadcast (not a collect): keeps the whole relation
    # one lazy plan for callers that persist or re-derive it.
    totals = joined.agg(
        F.sum("ct").alias("nt"), F.sum("cr").alias("nr")
    )
    b = float(buckets)
    lam = (
        joined.join(F.broadcast(totals))
        .select(
            "bucket",
            round6(
                F.log(
                    ((F.col("ct") + F.lit(1.0)) * (F.col("nr") + F.lit(b)))
                    / ((F.col("cr") + F.lit(1.0)) * (F.col("nt") + F.lit(b)))
                )
            ).alias("log_ratio"),
        )
    )
    return lam


def collect_logratios(lam: DataFrame, buckets: int = 256) -> list[float]:
    """Materialize the λ relation to the bucket-indexed Python list
    dsir_log_weights embeds as literals — an O(B) control-plane collect,
    like the k-means centroid and PQ codebook reads."""
    got = {int(r["bucket"]): float(r["log_ratio"]) for r in lam.collect()}
    assert len(got) == buckets, f"λ relation has {len(got)} rows, want {buckets}"
    return [got[i] for i in range(buckets)]


def dsir_log_weight_expr(text_col: str, lambdas: list[float], *,
                         salt: str = DSIR_SALT) -> str:
    """SQL text of the per-row importance log-weight: each token's λ
    looked up from the literal bucket array and folded in DECIMAL(18,6)
    (exact, order-free — matches the oracle's grouped SUM). Empty/NULL
    text scores 0.0. One parsed string: the 256-literal array and the
    fold cost one parse to build, not py4j calls per node."""
    lam_arr = sql_double_array(lambdas)
    terms = (f"transform({tokens(text_col)}, t -> CAST(element_at("
             f"{lam_arr}, {md5_bucket('t', salt=salt)} + 1) AS DECIMAL(18,6)))")
    return (f"CAST(aggregate({terms}, CAST(0 AS DECIMAL(28,6)), "
            "(acc, v) -> CAST(acc + v AS DECIMAL(28,6))) AS DOUBLE)")


def dsir_log_weights(docs: DataFrame, lambdas: list[float], *,
                     text_col: str = "text", salt: str = DSIR_SALT) -> DataFrame:
    """docs + a ``log_w`` column — map-only (no exchange/join/Python in the
    plan; pinned in tests/test_dsir.py)."""
    return docs.withColumn(
        "log_w", F.expr(dsir_log_weight_expr(text_col, lambdas, salt=salt))
    )


def gumbel_select(weighted: DataFrame, n: int, *, id_col: str = "doc_id",
                  salt: str = DSIR_DRAW_SALT) -> DataFrame:
    """Top-n sample without replacement ∝ exp(log_w): maximize
    key = round6(log_w − ln(−ln(u))) (the Gumbel-max trick — the A-ES
    ln(u)/w key rewritten in log space so weights never exponentiate),
    u content-stable from 52 md5 bits of the salted id. Global top-n =
    TakeOrdered, no full sort; ``rank`` is the draw order."""
    u = F.expr(stable_uniform(id_col, salt=salt))
    key = round6(F.col("log_w") - F.log(-F.log(u)))
    ranked = (
        weighted.withColumn("key", key)
        .orderBy(F.desc("key"), F.asc(id_col))
        .limit(n)
    )
    # row_number over the already-limited n rows (tiny) for the draw order.
    from pyspark.sql.window import Window

    w = Window.orderBy(F.desc("key"), F.asc(id_col))
    return ranked.select(
        "*", F.row_number().over(w).cast("int").alias("rank")
    )


def dsir_select(target: DataFrame, raw: DataFrame, n: int, *,
                text_col: str = "text", id_col: str = "doc_id",
                buckets: int = 256) -> DataFrame:
    """End-to-end DSIR: fit λ on (target, raw), score raw map-side, draw n
    docs without replacement ∝ importance. Returns the selected raw rows
    plus (log_w, key, rank)."""
    lambdas = collect_logratios(
        bucket_logratios(target, raw, text_col=text_col, buckets=buckets),
        buckets=buckets,
    )
    weighted = dsir_log_weights(raw, lambdas, text_col=text_col)
    return gumbel_select(weighted, n, id_col=id_col)
