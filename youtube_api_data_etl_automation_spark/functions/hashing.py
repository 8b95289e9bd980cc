"""Content-stable hash bucketing — the shared primitive behind every
deterministic sampling/split decision in the engine.

bucket ∈ [0, 256): the first two hex nibbles of md5(salt ++ key). md5 (not
xxhash64) so DuckDB oracles reproduce it verbatim; content-stable so a
row's fate never changes under repartitioning, corpus growth, or backfill.

The ``salt`` matters when operators COMPOSE: stratified sampling, the
train/val split, and temperature mixing each make an independent keep
decision, and if they all read the same unsalted bucket the decisions are
perfectly correlated (e.g. every stratified survivor with bucket < 32
automatically wins any fractional draw with rate ≥ 32/256 — the realized
rate becomes 1.0). Registered oracle-checked queries keep salt="" (their
DuckDB oracle text is pinned to the unsalted form); every NEW composing
operator must pick its own distinct salt.
"""

from __future__ import annotations

from .text import sql_str


def md5_bucket(col: str, salt: str = "") -> str:
    """SQL text of the 256-way content-stable bucket of ``salt ++
    str(col)`` (``col`` is SQL text too: a column name or an expression)."""
    keyed = f"CAST({col} AS STRING)"
    if salt:
        keyed = f"concat({sql_str(salt)}, {keyed})"
    return f"CAST(conv(substring(md5({keyed}), 1, 2), 16, 10) AS INT)"
