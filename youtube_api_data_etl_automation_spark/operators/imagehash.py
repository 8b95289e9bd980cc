"""Perceptual image hashing + near-duplicate image pairs.

Bridges the decode surface (operators/multimodal.py, jpeg.py, gif.py,
vp8l.py, tiff.py — every format `decode_image` handles) into the dedup
ladder: re-encoded, resized, or slightly-retouched copies of the same
picture hash to nearby 64-bit codes, and near-pairs surface through the
same banding idiom as MinHash-LSH (operators/dedup.py) — NO all-pairs
comparison anywhere.

Hashes (classic public constructions):

- **dHash** (difference hash): grey luma → 9×8 exact area-average grid
  → bit[r,c] = grid[r,c] > grid[r,c+1]. Robust to re-encoding and
  uniform brightness shifts (it compares neighbors, not levels).
- **aHash** (average hash): 8×8 grid → bit = cell > global mean.

Both are pure byte math over the decoder's RGB output — deterministic
across machines (float64 means of exact integer pixels), so they are
golden-oracle material like every other decode fingerprint.

Near-dup pairs: split the 64-bit code into ``max_hamming + 1``
contiguous bands. Two codes within Hamming distance ``max_hamming``
agree EXACTLY on at least one band (pigeonhole), so candidate
generation is an equi-join on ``(band_idx, band_value)`` — shuffle
traffic is (rows × bands) small ints, never pixels — and a cheap
``bit_count(a XOR b) <= k`` verify filters the candidates. Same
recall-exactness argument as symmetric-delete fuzzy keys
(operators/fuzzy.py): the blocking is complete for the stated radius,
not approximate.

Scale: hashing is the usual Arrow-batched mapInPandas (embarrassingly
parallel, no shuffle); the pair join shuffles only (doc_id, band)
tuples. Band width 64/(k+1) ≥ 8 bits keeps bucket sizes near-uniform
on real corpora; a pathological bucket (e.g. millions of flat-color
thumbnails hashing to 0) is a data-skew signal the caller handles like
any hot LSH band — AQE skew-join splits it at runtime.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

IMAGE_HASH_SCHEMA = (
    "doc_id bigint, format string, width int, height int, "
    "dhash bigint, ahash bigint, error string, error_kind string"
)


def _area_average(grey: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """Exact area-average resample of a 2-D float array to
    ``out_h × out_w``. Boxes are the contiguous integer partitions
    ``[floor(i·H/out_h), floor((i+1)·H/out_h))`` widened to at least one
    row/col (so images smaller than the grid repeat pixels rather than
    producing empty boxes). Deterministic float64 — no interpolation
    kernels, no library variance."""
    h, w = grey.shape
    out = np.empty((out_h, out_w), dtype=np.float64)
    rb = [(r * h) // out_h for r in range(out_h + 1)]
    cb = [(c * w) // out_w for c in range(out_w + 1)]
    for r in range(out_h):
        r0, r1 = rb[r], max(rb[r + 1], rb[r] + 1)
        r0 = min(r0, h - 1)
        for c in range(out_w):
            c0, c1 = cb[c], max(cb[c + 1], cb[c] + 1)
            c0 = min(c0, w - 1)
            out[r, c] = grey[r0:max(r1, r0 + 1), c0:max(c1, c0 + 1)].mean()
    return out


def _luma(rgb: np.ndarray) -> np.ndarray:
    # BT.601 — the same weighting the JPEG decoder's color path uses
    return (0.299 * rgb[..., 0] + 0.587 * rgb[..., 1]
            + 0.114 * rgb[..., 2]).astype(np.float64)


def _bits_to_i64(bits: np.ndarray) -> int:
    """Pack a flat boolean array (MSB first) into a SIGNED 64-bit int —
    the bigint Spark/DuckDB share (value wraps for bit 0 set)."""
    v = 0
    for b in bits.ravel():
        v = (v << 1) | int(b)
    if v >= 1 << 63:
        v -= 1 << 64
    return v


def dhash64(rgb: np.ndarray) -> int:
    grid = _area_average(_luma(rgb), 8, 9)
    return _bits_to_i64(grid[:, :-1] > grid[:, 1:])


def ahash64(rgb: np.ndarray) -> int:
    grid = _area_average(_luma(rgb), 8, 8)
    return _bits_to_i64(grid > grid.mean())


def image_hashes(blobs: DataFrame) -> DataFrame:
    """Decode + hash in ONE pass over ``(doc_id, payload)``: per image
    the 64-bit dHash and aHash plus dimensions. Same quarantine
    contract as :func:`operators.multimodal.decode_image` (whose
    decoder this calls — every format it decodes, hashes).

    Probe-first ``mediameta.PROBE_PIXEL_BUDGET`` (the
    triage_decode_images posture): the header is read BEFORE any pixel
    decodes, so an oversized image costs O(header) and routes to
    ``error_kind='unsupported'`` instead of tying up an executor."""
    from .mediameta import PROBE_PIXEL_BUDGET, _probe_image
    from .multimodal import _decode_rgb, _quarantine_map, check_budget

    def one(raw):
        _, pw, ph = _probe_image(raw)
        check_budget(f"image {pw}x{ph}", pw * ph, PROBE_PIXEL_BUDGET,
                     "pixel hash")
        fmt, rgb = _decode_rgb(raw)
        return {"format": fmt, "width": rgb.shape[1],
                "height": rgb.shape[0], "dhash": dhash64(rgb),
                "ahash": ahash64(rgb)}

    return _quarantine_map(blobs, one, IMAGE_HASH_SCHEMA)


THUMB_SCHEMA = (
    "doc_id bigint, format string, width int, height int, "
    "thumb_w int, thumb_h int, thumb binary, error string, error_kind string"
)


def image_thumbnails(blobs: DataFrame, out_h: int = 8,
                     out_w: int = 8) -> DataFrame:
    """Deterministic thumbnail extraction — the resize step of an image
    training pipeline: decode via the full format matrix, exact
    area-average to ``out_h × out_w`` (the same box partition the
    hashes use — float64 over exact integer pixels, no interpolation
    kernels, so the output bytes are bit-identical across machines),
    round half-up to uint8, and emit row-major RGB bytes
    (``out_h*out_w*3``). Probe-first pixel budget like
    :func:`image_hashes`; quarantine contract like every payload op
    (a refused image's ``thumb_w``/``thumb_h`` are NULL, like its other
    feature columns). The thumbnail is the model-input proxy —
    downstream embedding or pHash-style stages consume it without
    re-decoding the original."""
    from .mediameta import PROBE_PIXEL_BUDGET, _probe_image
    from .multimodal import _decode_rgb, _quarantine_map, check_budget

    if not (1 <= out_h <= 256 and 1 <= out_w <= 256):
        raise ValueError(
            f"thumbnail grid must be within 256x256, got {out_w}x{out_h}"
        )

    def one(raw):
        _, pw, ph = _probe_image(raw)
        check_budget(f"image {pw}x{ph}", pw * ph, PROBE_PIXEL_BUDGET,
                     "pixel thumbnail")
        fmt, rgb = _decode_rgb(raw)
        grid = np.stack(
            [_area_average(rgb[..., c].astype(np.float64), out_h, out_w)
             for c in range(3)], axis=-1)
        return {"format": fmt, "width": rgb.shape[1],
                "height": rgb.shape[0], "thumb_w": out_w, "thumb_h": out_h,
                "thumb": np.floor(grid + 0.5).clip(0, 255)
                .astype(np.uint8).tobytes()}

    return _quarantine_map(blobs, one, THUMB_SCHEMA)


def hash_bands(df: DataFrame, hash_col: str, n_bands: int) -> DataFrame:
    """Explode each 64-bit hash into ``(doc_id, band_idx, band_val)``
    rows — contiguous bit slices, widths as equal as 64/n_bands allows
    (remainder spread over the leading bands). Pure Column math."""
    if not 1 <= n_bands <= 64:
        raise ValueError(f"n_bands must be in [1, 64], got {n_bands}")
    base, rem = divmod(64, n_bands)
    widths = [base + (1 if i < rem else 0) for i in range(n_bands)]
    shifts = []
    pos = 0
    for w in widths:
        shifts.append(64 - pos - w)
        pos += w
    def slice_col(w, s):
        col = F.shiftrightunsigned(F.col(hash_col), s)
        if w < 64:  # (1<<64)-1 overflows a Java long literal
            col = col.bitwiseAND(F.lit((1 << w) - 1))
        return col

    bands = F.array(*[
        F.struct(
            F.lit(i).alias("band_idx"),
            slice_col(w, s).alias("band_val"),
        )
        for i, (w, s) in enumerate(zip(widths, shifts))
    ])
    return (
        df.select("doc_id", hash_col, F.explode(bands).alias("b"))
        .select("doc_id", hash_col,
                F.col("b.band_idx").alias("band_idx"),
                F.col("b.band_val").alias("band_val"))
    )


def near_dup_image_pairs(hashes: DataFrame, max_hamming: int = 4,
                         hash_col: str = "dhash") -> DataFrame:
    """All pairs within ``max_hamming`` bits on ``hash_col`` —
    EXACT recall via ``max_hamming + 1`` band blocking (two codes that
    differ in ≤ k bits must agree on one of k+1 disjoint bands), then a
    ``bit_count(XOR)`` verify. Returns ``(doc_id_a, doc_id_b,
    hamming)`` with ``doc_id_a < doc_id_b``, deduped across bands.

    Plan shape: one explode (no shuffle), one equi-join on the band key
    (the only shuffle — small int tuples), TakeOrdered-free aggregation;
    no cartesian/BNLJ anywhere."""
    if not 0 <= max_hamming <= 16:
        raise ValueError(
            f"max_hamming must be in [0, 16], got {max_hamming}"
        )
    n_bands = max_hamming + 1
    banded = hash_bands(
        hashes.filter(F.col(hash_col).isNotNull()), hash_col, n_bands)
    left = banded.select(
        F.col("doc_id").alias("doc_id_a"),
        F.col(hash_col).alias("_ha"),
        "band_idx", "band_val",
    )
    right = banded.select(
        F.col("doc_id").alias("doc_id_b"),
        F.col(hash_col).alias("_hb"),
        "band_idx", "band_val",
    )
    pairs = (
        left.join(right, on=["band_idx", "band_val"])
        .filter(F.col("doc_id_a") < F.col("doc_id_b"))
        .select(
            "doc_id_a", "doc_id_b",
            F.bit_count(
                F.col("_ha").bitwiseXOR(F.col("_hb"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )
    return pairs
