"""Hashed-feature quality-classifier TRAINING (fasttext-style logistic
regression, distributed).

functions/text.py::clf_logit_t scores documents with a fixed 256-bucket
hashed linear model whose weights are a deterministic stand-in ("a
stand-in for trained weights, which would broadcast as a 256-float map").
This operator supplies the missing half: learn those weights from labeled
documents with full-batch gradient descent, each round one distributed
pass —

    per-doc logit   = Σ w[bucket(tok)] / (1 + |tok|)   (map-side Column
                      fold — the EXACT feature map clf_logit_t scores
                      with, so a trained weight vector drops into the
                      same inference expression)
    residual        = sigmoid(logit + bias) − label     (map-side)
    weight gradient = Σ_docs residual · count_b/(1+n)   (explode → groupBy
                      bucket: the ONLY shuffle, ≤ n_buckets keys of
                      partial-aggregated doubles)
    update          = driver folds the ≤256-float gradient (O(k) control
                      data, the sanctioned collect class — same discipline
                      as k-means centroids)

No UDF anywhere; labels are whatever weak supervision the caller brings
(heuristic quality threshold, LM perplexity band, human ratings). At
100 TB each round shuffles only (bucket, partial-sum) pairs — the corpus
text never moves, and rounds are O(n_buckets) driver state.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

N_BUCKETS = 256


def tok_bucket(x: Column) -> Column:
    """The 256-way md5 token bucket clf_logit_t uses (first 2 hex chars)."""
    return F.conv(F.substring(F.md5(x), 1, 2), 16, 10).cast("int")


def learned_logit_t(tok: Column | str, weights: list[float], bias: float) -> Column:
    """Score a token-array column with TRAINED weights — the learned twin
    of functions/text.py::clf_logit_t (identical feature map: summed
    bucket weights, length-normalized by 1+n). Weights broadcast as an
    array literal inside the expression; map-side, no shuffle."""
    t = F.col(tok) if isinstance(tok, str) else tok
    warr = F.array(*[F.lit(float(w)) for w in weights])
    wsum = F.aggregate(
        t,
        F.lit(0.0),
        lambda acc, x: acc + F.element_at(warr, tok_bucket(x) + 1),
    )
    return wsum / (F.lit(1.0) + F.size(t).cast("double")) + F.lit(float(bias))


def train_quality_clf(
    docs: DataFrame,
    *,
    label_col: str,
    tok_col: str = "tok",
    n_rounds: int = 20,
    learning_rate: float = 2.0,
    l2: float = 0.0,
    batch_fraction: float = 1.0,
    weight_grid: int | None = None,
) -> dict:
    """Logistic-regression training over hashed bag-of-words features.
    ``docs`` needs a pre-projected token array (``tok_col``) and a 0/1
    ``label_col``. Returns {"weights": [256 floats], "bias": float,
    "loss_history": [per-round mean log-loss]}.

    NULL discipline (ADVICE r5): a NULL token array is coalesced to empty
    and NULL elements are dropped before training — matching
    token_count_t's NULL→0 rule — so no doc silently falls out of the
    decimal sums while still counting in the denominator.

    ``batch_fraction`` < 1 switches to DETERMINISTIC MINI-BATCH rounds —
    the 100 TB path: full-batch cost is n_rounds × full-corpus scans,
    while a content-stable md5 bucket over (round-salt, tokens, label)
    selects each round's sample, so every round still sees a fixed,
    engine/partitioning/retry-independent subset (bit-deterministic like
    full batch, unlike rand()-based sampling). Gradients and the reported
    loss normalize by the BATCH size. Round salt rotates the sample per
    round, so across rounds the full corpus contributes.

    Determinism: gradient and loss sums are decimal-exact (the same
    fixed-point discipline as the versioned state folds / k-means), so
    the learned weights are bit-identical across partitionings and
    retries. The token relation is persisted for the duration of training
    (n_rounds consumers) and released before returning.

    ``weight_grid`` (e.g. 2**20) snaps weights and bias to the dyadic
    grid 1/weight_grid after every round's update. With dyadic weights
    every per-doc logit sum is EXACT in double arithmetic (each addend is
    k/grid with bounded k, so the sum is an integer multiple of 1/grid —
    no rounding, hence no dependence on token order or engine summation
    order), which upgrades the bit-determinism guarantee from
    "within this engine" to "across engines": the DuckDB oracle of
    plans/text_queries.py::quality_clf_training replays the identical
    rounds. The quantization perturbs each update by < 1/grid — far below
    the gradient signal — and models broadcast for inference smaller."""
    if not (0.0 < batch_fraction <= 1.0):
        raise ValueError("batch_fraction must be in (0, 1]")
    weights = [0.0] * N_BUCKETS
    bias = 0.0
    loss_history: list[float] = []

    clean_tok = F.filter(
        F.coalesce(F.col(tok_col), F.array().cast("array<string>")),
        lambda x: x.isNotNull(),
    )
    feat = docs.select(
        F.col(label_col).cast("double").alias("_y"), clean_tok.alias("_t")
    ).persist()
    try:
        n_total = feat.count()
        if n_total == 0:
            raise ValueError("train_quality_clf: empty training set")
        inv_len = F.lit(1.0) / (F.lit(1.0) + F.size("_t").cast("double"))
        for rnd in range(n_rounds):
            if batch_fraction < 1.0:
                # content-stable 16-bit bucket, salted by round index
                sample_key = F.conv(
                    F.substring(
                        F.md5(
                            F.concat(
                                F.lit(f"r{rnd}:"),
                                F.concat_ws(chr(0), "_t"),
                                F.col("_y").cast("string"),
                            )
                        ),
                        1,
                        4,
                    ),
                    16,
                    10,
                ).cast("long")
                batch = feat.filter(sample_key < int(batch_fraction * 65536))
            else:
                batch = feat
            logit = learned_logit_t(F.col("_t"), weights, bias)
            p = F.lit(1.0) / (F.lit(1.0) + F.exp(-logit))
            resid = (p - F.col("_y")).alias("_r")
            # per-doc scalar pass + clipped log-loss (numerics guard)
            eps = F.lit(1e-12)
            loss = -(
                F.col("_y") * F.log(F.greatest(p, eps))
                + (F.lit(1.0) - F.col("_y"))
                * F.log(F.greatest(F.lit(1.0) - p, eps))
            )
            scored = batch.select(
                resid,
                loss.alias("_loss"),
                (resid * inv_len).alias("_rw"),
                "_t",
            )
            scored = scored.persist()
            # bias gradient + loss + batch size: one tiny aggregate
            head = scored.agg(
                F.count(F.lit(1)).alias("m"),
                F.sum(F.col("_r").cast("decimal(28,18)")).alias("g_bias"),
                F.sum(F.col("_loss").cast("decimal(28,18)")).alias("loss"),
            ).first()
            m = int(head["m"])
            if m == 0:
                scored.unpersist()
                raise ValueError(
                    f"train_quality_clf: round {rnd} mini-batch is empty — "
                    "raise batch_fraction for this corpus size"
                )
            # weight gradient: explode to (bucket, r/(1+n)) and partial-agg;
            # ≤ N_BUCKETS result rows — the round's only real shuffle
            grad_rows = (
                scored.select(
                    F.explode("_t").alias("_x"), F.col("_rw")
                )
                .select(tok_bucket(F.col("_x")).alias("b"), "_rw")
                .groupBy("b")
                .agg(F.sum(F.col("_rw").cast("decimal(28,18)")).alias("g"))
                .collect()
            )
            scored.unpersist()
            grad = [0.0] * N_BUCKETS
            for r in grad_rows:
                grad[r["b"]] = float(r["g"])
            for b in range(N_BUCKETS):
                weights[b] -= learning_rate * (
                    grad[b] / m + l2 * weights[b]
                )
            bias -= learning_rate * float(head["g_bias"]) / m
            if weight_grid is not None:
                weights = [
                    math.floor(w * weight_grid + 0.5) / weight_grid
                    for w in weights
                ]
                bias = math.floor(bias * weight_grid + 0.5) / weight_grid
            loss_history.append(float(head["loss"]) / m)
    finally:
        feat.unpersist()
    if not all(math.isfinite(w) for w in weights) or not math.isfinite(bias):
        raise ArithmeticError(
            "train_quality_clf diverged (non-finite weights) — lower "
            "learning_rate"
        )
    return {"weights": weights, "bias": bias, "loss_history": loss_history}
