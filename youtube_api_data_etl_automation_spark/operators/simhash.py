"""SimHash document fingerprinting + Hamming-banded near-dup pairs.

16-bit SimHash over distinct tokens: bit j of a token's contribution is the
parity of hex digit j of md5(token) (md5 keeps it engine-portable — the
DuckDB oracle reproduces it digit-for-digit). A document's bit j is the sign
of the sum of contributions (±1) across its distinct tokens.

Scale shape: one explode (doc → distinct tokens), one groupBy(doc) computing
all 16 bit-sums in a single shuffle, then near-dup candidates come from ONE
equi-join on a band key that folds the band index into its value (low byte
as 0-255, high byte as 256-511: Hamming-LSH banding in one exchange per
side), scored by exact bit_count(xor). The bit sums, the signature fold and
the band key are SQL text built once at import: one parsed string per
column instead of one py4j round-trip per Column node.

Recall bound (pigeonhole, 2 bands of 8 bits): a pair is GUARANTEED to share
an exact half only when total Hamming distance ≤ 1. At distance d ≥ 2 the
differing bits can split across both halves (e.g. 2+2 at d=4) and the pair
is missed — banding is probabilistic-recall above d=1. For guaranteed recall
at d ≤ 3 use 4 bands of 4 bits (or multiple bit rotations); the 2×8 layout
here trades that recall for 4× fewer join rows.

SCALE BOUND of the 16-bit demo signature (r6 review): an 8-bit band key
has only 256 values, so past ~10⁵ docs every bucket fills and the band
self-join trends toward N²/256 candidate rows on 256 skewed keys — the
16-bit width is sized for oracle-checkable demonstrations, not corpus
scale. The production setting is a 64-bit signature with 4×16-bit bands
(65 536 bucket values per band, same Hamming-≤1-per-band guarantee at
d ≤ 3): the identical code path with N_BITS = 64 and 16-bit band
extraction, at the cost of a longer oracle mirror. The df-capped MinHash
family (operators/dedup.py) is the first choice when banding skew is the
binding constraint.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import tokens

N_BITS = 16

# Bit j of a token's contribution: parity of hex digit j of the projected
# md5 digest, mapped to ±1; bit j of the signature: sign of its sum.
_BIT_SUMS = [
    f"sum((CAST(conv(substring(hx, {j + 1}, 1), 16, 10) AS INT) % 2) * 2 - 1) AS b{j}"
    for j in range(N_BITS)
]
_SIGNATURE = " + ".join(
    f"CAST(b{j} > 0 AS BIGINT) * {1 << j}" for j in range(N_BITS)
) + " AS simhash"
# Band key: the low byte as 0-255 and the high byte as 256-511, so one
# equi-join on it is the union of the two per-band joins.
_BANDS = "explode(array(simhash % 256, floor(simhash / 256) + 256)) AS band"


def simhash(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(doc_id, simhash) with simhash in [0, 2^16). Docs with no tokens get
    no row (no signal to hash)."""
    # explode_outer + post-filter, not explode: see operators.dedup.doc_shingles
    # — plain explode infers a size()>0 filter that Catalyst pushes below the
    # repartition, duplicating the tokenize tree in a pre-exchange Filter.
    toks = (
        docs.select(F.col(id_col).alias("doc_id"), F.explode_outer(tokens(text_col)).alias("tok"))
        .filter("tok IS NOT NULL")
        .distinct()
    )
    # md5 projected ONCE per (doc, token); the 16 per-bit aggregates read
    # hex digits of the projected digest (inlining md5 into each aggregate
    # expression would hash every row 16x).
    hashed = toks.selectExpr("doc_id", "md5(tok) AS hx")
    sums = hashed.groupBy("doc_id").agg(*[F.expr(b) for b in _BIT_SUMS])
    return sums.selectExpr("doc_id", _SIGNATURE)


def simhash_pairs(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                  max_hamming: int = 4) -> DataFrame:
    """Near-dup pairs by SimHash: candidates share a signature half
    (Hamming-LSH banding: one equi-join on the band key, never a cross
    join), scored by exact Hamming distance.

    Recall is guaranteed only for pairs at Hamming distance ≤ 1 (see module
    docstring); with the default ``max_hamming=4``, pairs whose differing
    bits split across both halves are (deliberately) missed — the oracle
    mirrors the same banding, so parity holds by construction. A pair that
    shares both halves is an identical signature; ``distinct`` keeps it
    once."""
    bands = simhash(docs, text_col, id_col).selectExpr("doc_id", "simhash", _BANDS)
    # Both join sides are the same relation, so the signature aggregate's
    # exchange runs once and the other side reuses it.
    return (
        bands.alias("a")
        .join(bands.alias("b"), F.expr("a.band = b.band AND a.doc_id < b.doc_id"))
        .selectExpr(
            "a.doc_id AS doc_a",
            "b.doc_id AS doc_b",
            "bit_count(a.simhash ^ b.simhash) AS hamming",
        )
        .filter(f"hamming <= {max_hamming}")
        .distinct()
    )
