"""Deterministic weighted sampling (Efraimidis–Spirakis A-ES, content-stable).

Corpus curation often needs 'keep n docs per stratum, preferring higher
quality' — a WEIGHTED without-replacement sample, not the uniform cap
(operators/capping.py) or the fixed-rate stratified draw
(plans/curation.py). A-ES makes that a per-row key computation:

    key(row) = u ** (1 / w)      u ~ Uniform(0,1),  w = row weight

and the weighted sample of size n is the top-n rows by key per group —
provably equivalent to sequential weighted draws without replacement
(Efraimidis & Spirakis 2006, Inf. Process. Lett. — public algorithm).

Engine twist: u is not random but CONTENT-STABLE — derived from md5 of a
salt + the row id (the same discipline as every sampling decision in this
engine: a row's fate survives repartitioning, growth, and backfill). The
top-n per group is a rank over the key, so the whole operator is one
window (or the capping module's two-path form when most groups are under
n); nothing shuffles but (group, key) ordering data.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.colcache import name_memo

# 2^53 — doubles represent every integer below this exactly; using the
# first 13 hex chars (52 bits) of md5 keeps u uniform and exact.
_U_DENOM = float(1 << 52)


@name_memo
def stable_uniform(col: Column | str, salt: str = "aes:") -> Column:
    """Content-stable u ∈ (0,1]: 52 md5 bits of (salt ++ id), +1 to avoid
    u=0 (which would give key=0 regardless of weight)."""
    c = F.col(col) if isinstance(col, str) else col
    bits = F.conv(
        F.substring(F.md5(F.concat(F.lit(salt), c.cast("string"))), 1, 13), 16, 10
    ).cast("double")
    return (bits + F.lit(1.0)) / F.lit(_U_DENOM)


def aes_log_key(id_col: Column | str, weight: Column, salt: str = "aes:") -> Column:
    """ln(u)/w — the A-ES sampling key in log form (exp is strictly
    increasing, so ordering by ln(u)/w desc == ordering by the textbook
    key u^(1/w) desc). The log form has no underflow at any weight
    ratio — u^(1/w) underflows to 0.0 for tiny weights
    (exp(ln(u)/0.001) ≈ e^-2400) — ln(u) ∈ [-36, 0], so the
    quotient stays a normal double for any w > 1e-300. Non-positive
    weights map to -inf (always last)."""
    u = stable_uniform(id_col, salt)
    return F.when(weight > 0, F.log(u) / weight).otherwise(
        F.lit(float("-inf"))
    )


def weighted_sample_per_group(df: DataFrame, *, group_col: str, id_col: str,
                              weight_col: str, n: int,
                              salt: str = "aes:",
                              keep_rank: str | None = None) -> DataFrame:
    """Top-n weighted without-replacement sample per group: rank by the
    A-ES log-key descending (id tie-break), keep rank ≤ n. One window per
    group — compose with operators/capping.py's two-path split when the
    group count is huge and most groups are under n. ``keep_rank`` names
    an output column carrying each kept row's 1-based draw order (the
    sequential-draw position A-ES provably reproduces) — useful for
    audits; dropped by default."""
    key = aes_log_key(id_col, F.col(weight_col).cast("double"), salt)
    w = Window.partitionBy(group_col).orderBy(F.desc("_aes"), F.col(id_col))
    out = (
        df.withColumn("_aes", key)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= n)
    )
    if keep_rank is not None:
        out = out.withColumn(keep_rank, F.col("_rn").cast("int"))
    return out.drop("_aes", "_rn")


def grouped_split(df: DataFrame, *, group_col: str,
                  fractions: dict[str, float] | None = None,
                  salt: str = "split:") -> DataFrame:
    """Leakage-safe train/val/test assignment (r12): the split is
    hashed on the GROUP key — registrable domain, source, author —
    so every row of a group lands in the SAME split and near-duplicate
    members of one source can never straddle train and eval (the
    leakage a row-hashed split invites). Adds a ``split`` column.

    ``fractions`` maps split name → fraction (default 0.9/0.05/0.05
    train/val/test); fractions must sum to 1 within 1e-9 and are
    quantized to 256 content-stable md5 buckets — the same
    ``bucket(salt ++ key)`` idiom as every sampler here, so a group's
    assignment is deterministic across runs, partitionings, and
    engines, and independent of other samplers via the salt. Map-only:
    no shuffle, no state."""
    from ..functions.hashing import md5_bucket

    if fractions is None:
        fractions = {"train": 0.90, "val": 0.05, "test": 0.05}
    total = sum(fractions.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"fractions sum to {total}, expected 1.0")
    bad = {k: v for k, v in fractions.items() if not 0.0 <= v <= 1.0}
    if bad:
        raise ValueError(
            f"fractions outside [0, 1]: {bad} (r12 review fix: "
            "negative/overshooting fractions would silently collapse "
            "the split)")
    # NULL group keys fold to the empty-string group (one deterministic
    # assignment) instead of falling through every threshold into the
    # LAST split — which is the eval split by default (r12 review fix);
    # the shared md5_bucket primitive keeps the bucketing idiom single-
    # sourced with every other sampler and the DuckDB oracles.
    bucket = md5_bucket(
        F.coalesce(F.col(group_col).cast("string"), F.lit("")),
        salt=salt)
    # cumulative 256-bucket thresholds; the LAST split absorbs the
    # rounding remainder so every bucket maps somewhere
    names = list(fractions)
    cum, thresholds = 0.0, []
    for name in names:
        cum += fractions[name]
        thresholds.append(int(round(cum * 256)))
    thresholds[-1] = 256  # the last split absorbs rounding remainder
    # quantization audit (r13, ADVICE): a fraction below ~1/512 rounds
    # to a ZERO-width bucket range — e.g. {a: 0.999, b: 0.001} sends
    # every row to 'a' — and the sum check above cannot see it. That
    # silent collapse is worse than an error for an eval split, so
    # refuse it; callers needing finer splits should hash on a wider
    # bucket space (functions/hashing.py) rather than get an empty
    # test set.
    prev = 0
    for name, thr in zip(names, thresholds):
        if thr - prev == 0 and fractions[name] > 0.0:
            raise ValueError(
                f"split {name!r} fraction {fractions[name]} quantizes "
                "to zero of the 256 md5 buckets (needs >= ~1/512); it "
                "would silently receive no rows")
        prev = thr
    expr = None
    for name, thr in zip(names[:-1], thresholds[:-1]):
        cond = bucket < thr
        expr = F.when(cond, name) if expr is None else \
            expr.when(cond, name)
    expr = (expr.otherwise(names[-1]) if expr is not None
            else F.lit(names[-1]))
    return df.withColumn("split", expr)
